package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Oracle-checkable entry points for the streaming twins whose FINAL
  * tables are deterministic: each runs the actual Structured Streaming
  * query to completion (file source → foreachBatch → one parquet sink
  * for every twin, processAllAvailable) and returns the committed sink
  * read back as a static DataFrame, so the DuckDB correctness gate
  * exercises the streaming execution path itself — not just a batch
  * re-statement of its semantics
  * (StreamingSpec covers the remaining twins, whose emitted sets depend
  * on watermark horizons or arrival order in ways plain SQL can't
  * restate).
  *
  * Determinism argument, per query:
  *  - `streaming_totals` (complete mode): the last micro-batch re-emits
  *    the full running aggregate, which over a bounded source equals the
  *    batch GROUP BY exactly — no watermark involved.
  *  - `streaming_range_frame` (append mode): the fixture is one parquet
  *    file, so batch 0 carries every row (watermark still at its initial
  *    0 → nothing emits), then the registered event-time timers fire once
  *    the watermark jumps to max(ts)−2h and emit exactly the events with
  *    event-time µs < watermark — a set the oracle reproduces with the
  *    same floor-to-ms arithmetic Spark's watermark tracker uses. The
  *    per-event frame values equal the batch RANGE window because every
  *    frame member of an emitted event is ≤ it in event time and
  *    therefore also present (StreamingSpec pins bit-equality).
  *  - `streaming_quota` (append mode, no watermark): every event flows
  *    through tagged, and with the whole fixture in one micro-batch the
  *    admission order is the state function's explicit (ms, event_id)
  *    sort — the oracle's ROW_NUMBER reproduces it (µs//1000 mirrors
  *    Timestamp.getTime's millisecond floor).
  *  - `streaming_enrich` (append mode, stateless): a map-side
  *    broadcast join against a static profile — emission is the full
  *    input regardless of batching.
  *  - `streaming_dedup` (complete mode): same argument as totals — the
  *    final aggregate equals the batch GROUP BY, and the surviving
  *    payload is the min (event-time, event_id, value) struct, a pure
  *    function of the data (dropDuplicates-style ARRIVAL-order dedup
  *    stays spec-only in dedupStream, whose survivor SQL can't restate).
  *  - `streaming_decontaminate` (complete mode): the bloom sketch only
  *    PRUNES — every false positive dies at the exact stream-static
  *    gram join behind it — so the final per-doc hit counts equal the
  *    batch bloom_prefilter regardless of bloom bit layout or batching
  *    (the tag-only form, whose candidate counts DO depend on the
  *    sketch, stays spec-only in decontaminateStream).
  *  - `streaming_interval_join` / `streaming_funnel` (append mode):
  *    INNER stream-stream joins emit each match eagerly the moment both
  *    sides are present — the watermark only bounds state eviction, and
  *    with the whole fixture in batch 0 nothing is ever late — so the
  *    emitted set is the complete interval join, restated by the oracle
  *    as plain SQL (StreamingSpec pins count-equality vs the batch
  *    join).
  */
object StreamingBatch {

  /** Stateful shuffle width sized to the SOURCE, not a constant: every
    * stateful operator opens one state store per shuffle partition per
    * micro-batch, and store open/commit was a fixed cost that dominated
    * at fixture scale — hence the floor of 4 (the round-6 cost-curve
    * measurement, taken while the local file system still forked
    * `chmod` and `readlink` inside every store commit; see
    * [[graft.NioRawLocalFileSystem]]). But a single-file probe source
    * delivers the WHOLE table as one micro-batch, where a 4-wide
    * stateful interval join is a 4-core quadratic — the round-12 density probe (10M events,
    * 6,667/user) measured exactly that wall. ~250k source rows per
    * partition keeps per-store state in the regime the local
    * cost curve was measured in; capped at the session's parallelism.
    * A production deploy gets this sizing from its trigger/batch
    * policy and executor count — here the bounded source's footer count
    * is the honest stand-in (no data scan; computed once per table
    * content in Tables.footerCount, so 17 twins × Bench repeats pay
    * one count job per fixture dir, not one per invocation). Note the
    * parallelism CAP binds before the rows/250k divisor on big sources:
    * under the probe's documented SPARK_GRAFT_CPUS=16 the width tops out
    * at 16; it reaches 32 only on a 32-core session.
    *
    * The catch is deliberately narrow (missing/empty dir only — the one
    * legitimate "source not there yet" shape, e.g. a spec building a
    * stream over a dir its fixture writes later) and LOUD: silently
    * mapping every failure to the 4-wide floor would re-enter the exact
    * quadratic regime this sizing exists to avoid. */
  private def statefulWidth(spark: SparkSession, dir: String,
      table: String = "events"): Int = {
    val n =
      try graft.Tables.footerCount(spark, dir, table)
      catch {
        case e @ (_: org.apache.spark.sql.AnalysisException |
                  _: java.io.IOException) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"statefulWidth: cannot count $dir/$table " +
              s"(${e.getMessage}); falling back to width 4")
          0L
      }
    math.max(4L, math.min(
      spark.sparkContext.defaultParallelism.toLong, n / 250000L)).toInt
  }

  /** The session conf a twin run sets: the stateful shuffle width and
    * Spark's watermark-closure micro-batches. */
  private val ShufflePartitionsKey = "spark.sql.shuffle.partitions"
  private val NoDataBatchKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Held while a run's conf is set on the caller's session, so two
    * concurrent starts cannot restore each other's saved value. */
  private val confLock = new Object

  /** One parquet sink dir per (query name, fixture dir), reused across
    * invocations ([[graft.Staged.dir]]) — the round-12 advice: a fresh
    * temp dir per run × Bench's warmup+repeats × the row-proportional
    * twins (funnel ≈ 500M rows at probe density) left many GB in /tmp
    * per probe run. Reuse is safe because the batch structure is
    * deterministic per (query, fixture) — same files, same
    * maxFilesPerTrigger, same per-batch emission — and the dir is
    * CLEARED before each run anyway, so a re-run against a shrunk
    * source can never read a stale b<k> from a previous, longer run.
    * The clear does mean a read-back DataFrame from a PREVIOUS run of
    * the same (query, dir) goes stale once a new run starts; callers
    * (Verify / Bench / specs) materialize each result before re-running
    * the query. */
  private def sinkDir(name: String, dir: String): String = {
    val out = graft.Staged.dir(
      graft.Staged.Key(s"sink_$name", Nil, Seq(dir)))(_ => ())
    // clear previous run's batches (keep the dir itself)
    val s = java.nio.file.Files.list(out)
    try s.forEach(c => graft.Staged.deleteRec(c)) finally s.close()
    out.toString
  }

  /** Run a (bounded-source) streaming DataFrame to completion through a
    * foreachBatch → parquet sink and hand back the written table, read
    * from the committed files — the reference's write-then-read-back of
    * each layer. Every twin runs here, whatever its output mode:
    *  - append: each micro-batch writes its emitted rows executor-side
    *    to `out/b<batchId>` (mode=overwrite keyed by batchId, so a
    *    replayed batch is idempotent — the exactly-once recipe a
    *    production foreachBatch sink uses). A driver-side memory sink
    *    would not do: a stream-stream join's emission is
    *    row-proportional, and at probe scale the funnel join's memory
    *    sink tripped spark.driver.maxResultSize at 2.2 GiB.
    *  - complete: each micro-batch carries the whole result table, so it
    *    overwrites `out/final` and the last batch's table is the answer.
    * The read-back takes the schema of the frame the callback wrote, so
    * it launches no parquet schema-inference job, and it registers
    * nothing in the caller's catalog.
    *
    * `finish` is the sink-side PER-MICRO-BATCH transform (the standard
    * foreachBatch recipe for a within-batch reduce): callers use it only
    * where every contributing row of an output key is derived from one
    * input row by stateless operators — then all of them share a
    * micro-batch and the within-batch reduce equals the global one, with
    * ZERO streaming state held across triggers.
    *
    * Stateful shuffle `width`: see [[statefulWidth]] — a floor of 4 at
    * fixture scale (state-store open/commit was the fixed cost that
    * dominated a bounded local run: measured at sf0.1, the funnel join
    * read 14.9s at 32 partitions, 7.0s at 8, 4.6s at 4, 4.4s at 2,
    * min-of-3 solo — figures taken before the file system stopped
    * forking shell commands per store commit, so they overstate the
    * per-partition cost today), growing with the source so a
    * probe-scale batch is not a 4-core stateful join.
    *
    * `noDataBatch=false` skips the trailing watermark-closure micro-batch
    * for APPEND twins whose emission is ARRIVAL-driven (inner
    * stream-stream joins emit each match eagerly the moment both sides
    * are present; dropDuplicatesWithinWatermark emits each surviving
    * row in its arrival batch — for both, the watermark bounds STATE
    * EVICTION only, never emission, which is these twins' own oracle
    * determinism argument above). A no-data batch can emit nothing for
    * them (it carries no input rows), so skipping it removes one full
    * per-invocation round of batch planning, state-store open/commit
    * across every partition of every stateful operator, and
    * offset/commit-log writes — measured (StreamProf, 8c, sf0.1 warm):
    * streaming_funnel 2/8 batches/jobs → 1/4, wall −~35%. Twins whose
    * EMISSION is watermark-driven (range_frame, resample, sessions —
    * timers and append-mode aggregate finalization fire exactly in
    * that closure batch) keep the default.
    *
    * Both settings are set on the caller's session only across
    * `start()`: the query's execution clones the session when it is
    * constructed, and the micro-batches plan and read these two keys
    * from that clone. So the caller's session holds its own values again
    * for the whole run. The twin does not run on a `newSession()`
    * instead: each new session registers a streaming listener bus on the
    * shared SparkContext that is never removed, and listeners on the
    * caller's session would stop seeing the twin's progress. */
  private def run(df: DataFrame, name: String, dir: String,
      mode: String = "append", finish: DataFrame => DataFrame = identity,
      width: Int = 4, noDataBatch: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val out = sinkDir(name, dir)
    val written = new AtomicReference[StructType]()
    val q = confLock.synchronized {
      val saved = Seq(ShufflePartitionsKey, NoDataBatchKey)
        .map(k => k -> spark.conf.get(k))
      spark.conf.set(ShufflePartitionsKey, width.toString)
      if (!noDataBatch) spark.conf.set(NoDataBatchKey, "false")
      try df.writeStream.outputMode(mode)
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          val res = finish(batch.toDF())
          written.set(res.schema)
          res.write.mode("overwrite").parquet(
            if (mode == "complete") s"$out/final" else s"$out/b$batchId")
        }
        .start()
      finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    try q.processAllAvailable() finally q.stop()
    // enumerate the sink's dirs rather than globbing: a glob path
    // makes the reader's sink-metadata probe log a spurious
    // FileNotFoundException WARN, and the listing is Θ(batches)
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .iterator().asScala.map(_.toString).toSeq.sorted
    require(parts.nonEmpty, s"streaming sink $name wrote no batches")
    spark.read.schema(written.get).parquet(parts: _*)
  }

  def streamingTotals(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.runningTypeTotals(spark, dir), "totals", dir,
      mode = "complete")
      .orderBy("event_type")

  def streamingRangeFrame(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.rangeFrameStream(spark, dir), "rangeframe", dir,
      width = statefulWidth(spark, dir))
      .orderBy("event_id")

  def streamingQuota(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.quotaStream(spark, dir), "quota", dir,
      width = statefulWidth(spark, dir))
      .orderBy("event_id")

  def streamingEnrich(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.enrichStream(spark, dir), "enrich", dir,
      width = statefulWidth(spark, dir))
      .orderBy("event_id")

  def streamingResample(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.resampleStream(spark, dir), "resample", dir,
      width = statefulWidth(spark, dir))
      .orderBy("user_id", "bucket")

  def streamingSessions(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.sessions(spark, dir), "sessions", dir,
      width = statefulWidth(spark, dir))
      .orderBy("user_id", "session_start")

  def streamingIntervalJoin(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.clickPurchaseJoin(spark, dir), "interval", dir,
      width = statefulWidth(spark, dir), noDataBatch = false)
      .orderBy("user_id", "click_ts", "purchase_ts")

  def streamingFunnel(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.funnelJoinStream(spark, dir), "funnel", dir,
      width = statefulWidth(spark, dir), noDataBatch = false)
      .orderBy("user_id", "view_ts", "click_ts", "purchase_ts")

  def streamingDedup(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.dedupFirstStream(spark, dir), "dedup", dir,
      mode = "complete", width = statefulWidth(spark, dir))
      .orderBy("user_id", "event_type")

  def streamingDedupArrival(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.dedupArrivalStream(spark, dir),
      "dedup_arrival", dir, width = statefulWidth(spark, dir),
      noDataBatch = false)
      .orderBy("user_id", "event_type")

  def streamingDecontaminate(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.decontaminateVerifiedStream(spark, dir),
      "decontaminate", dir, mode = "complete")
      .orderBy("doc_id")

  def streamingHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.heavyHittersStream(spark, dir), "heavyhit", dir,
      mode = "complete")
      .orderBy("gram")

  def streamingSeasonal(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Events.seasonalFromCells(
      run(EventStream.seasonalCellsStream(spark, dir), "seasonal", dir,
        mode = "complete"))

  def streamingQuality(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.qualityStream(spark, dir), "quality", dir,
      mode = "complete")
      .orderBy("n_passed")

  def streamingMmAdmission(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.mmAdmissionStream(spark, dir), "mm_admission",
      dir,
      finish = graft.ops.Multimodal.admissionFromCandidates)
      .orderBy("doc_id")

  def streamingAnnAdmission(spark: SparkSession, dir: String): DataFrame =
    run(EventStream.annAdmissionStream(spark, dir),
      "ann_admission", dir,
      finish = graft.ops.Similarity.admissionFromCandidates)
      .orderBy("vec_id")

  def streamingPsiDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Audit.psiStreamReport(spark, dir,
      run(EventStream.driftCellsStream(spark, dir), "psidrift", dir,
        mode = "complete"))
      .orderBy("bin")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "streaming_psi_drift"     -> (streamingPsiDrift _),
    "streaming_ann_admission" -> (streamingAnnAdmission _),
    "streaming_mm_admission"  -> (streamingMmAdmission _),
    "streaming_quality"       -> (streamingQuality _),
    "streaming_seasonal"      -> (streamingSeasonal _),
    "streaming_heavy_hitters" -> (streamingHeavyHitters _),
    "streaming_totals"        -> (streamingTotals _),
    "streaming_range_frame"   -> (streamingRangeFrame _),
    "streaming_quota"         -> (streamingQuota _),
    "streaming_enrich"        -> (streamingEnrich _),
    "streaming_interval_join" -> (streamingIntervalJoin _),
    "streaming_funnel"        -> (streamingFunnel _),
    "streaming_resample"      -> (streamingResample _),
    "streaming_sessions"      -> (streamingSessions _),
    "streaming_dedup"         -> (streamingDedup _),
    "streaming_dedup_arrival" -> (streamingDedupArrival _),
    "streaming_decontaminate" -> (streamingDecontaminate _))

  val oracle: Map[String, String] = Map(
    // the current-slice bin counts are arrival-order-independent (a
    // complete-mode count against a PUBLISHED static edge relation), the
    // base counts and the fraction/clamp/term tail are the batch
    // operator's own shared code (Audit.psiTail), and the full outer
    // join reproduces the batch groupBy's bin union — so the final
    // report equals batch psi_drift bit-for-bit under any batching
    "streaming_psi_drift" -> graft.ops.Audit.oracle("psi_drift"),
    // signature + combo keys are array-local, the index join is
    // stateless stream-static, and the verdict reduce runs within the
    // micro-batch that holds ALL of an asset's candidate rows (stateless
    // derivation of a unique key — the ann_admission argument), so the
    // final table equals the batch admission gate bit-for-bit under any
    // batching
    "streaming_mm_admission" -> graft.ops.Multimodal.oracle("mm_admission"),
    // same argument for vectors: signature + probe ball are array-local,
    // the bucket join is stateless stream-static against the published
    // index, and the verdict reduce runs within the micro-batch that
    // holds ALL of a vector's candidate rows (stateless derivation of a
    // unique key), so the final table equals batch ann_incremental
    "streaming_ann_admission" ->
      graft.ops.Similarity.oracle("ann_incremental"),
    // complete-mode final cells == the batch moment cells (counts are
    // arrival-order-independent; moment sums reach the compared output
    // only through the shared derivation tail's rounded presentation)
    "streaming_seasonal" -> graft.ops.Events.oracle("events_seasonal"),
    // complete-mode final table == the batch rule-ensemble rollup: each
    // doc's verdict is deterministic (shared qualityVerdicts chain) and
    // the per-pass-count tallies are arrival-order-independent
    "streaming_quality" ->
      (graft.ops.Curation.duckQualityCtes +
        """,
          |np AS (
          |  SELECT (CASE WHEN r_len THEN 1 ELSE 0 END
          |        + CASE WHEN r_wordlen THEN 1 ELSE 0 END
          |        + CASE WHEN r_stop THEN 1 ELSE 0 END
          |        + CASE WHEN r_digit THEN 1 ELSE 0 END
          |        + CASE WHEN r_rep THEN 1 ELSE 0 END)::BIGINT AS n_passed
          |  FROM r)
          |SELECT n_passed, COUNT(*)::BIGINT AS n_docs,
          |  SUM(CASE WHEN n_passed = 5 THEN 1 ELSE 0 END)::BIGINT
          |    AS n_kept
          |FROM np GROUP BY 1 ORDER BY 1""".stripMargin),
    // complete-mode final table == the exact heavy-hitter counts: the
    // CMS only prunes (never under-counts) and the exact >= floor
    // filter decides, so batching and sketch layout can't change it
    "streaming_heavy_hitters" ->
      """WITH t AS (
        |  SELECT string_split_regex(text, '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i + 1])) AS gram
        |  FROM t WHERE len(toks) >= 2)
        |SELECT gram, COUNT(*)::BIGINT AS n FROM g
        |GROUP BY 1 HAVING COUNT(*) >= 32 ORDER BY gram""".stripMargin,
    // complete-mode final table == the plain batch aggregate
    "streaming_totals" ->
      """SELECT event_type,
        |  COUNT(*)::BIGINT AS n_events,
        |  ROUND(SUM(value), 4) AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // single-batch admission order is (Timestamp.getTime ms, event_id) —
    // µs//1000 reproduces the millisecond floor; after the 100-cap the
    // per-user counter stops moving, so rejected rows carry 100
    "streaming_quota" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS us
        |  FROM events),
        |r AS (
        |  SELECT event_id, user_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY us // 1000, event_id) AS rn
        |  FROM e)
        |SELECT event_id, user_id,
        |  rn <= 100 AS admitted,
        |  CAST(CASE WHEN rn <= 100 THEN rn ELSE 100 END AS BIGINT)
        |    AS n_admitted
        |FROM r ORDER BY event_id""".stripMargin,
    // stateless broadcast enrichment: output = input joined to the
    // per-user profile the batch side derives
    "streaming_enrich" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(ts::TIMESTAMP) AS us
        |  FROM events),
        |d AS (
        |  SELECT user_id, MIN(us) AS first_us,
        |         COUNT(*)::BIGINT AS lifetime_events
        |  FROM e GROUP BY user_id)
        |SELECT e.event_id, e.user_id, e.event_type,
        |  make_timestamp(d.first_us) AS first_seen,
        |  d.lifetime_events,
        |  (e.us - d.first_us) AS us_since_first
        |FROM e JOIN d USING (user_id)
        |ORDER BY e.event_id""".stripMargin,
    // timer-driven gap emission: per user, the 6h grid from the first
    // data bucket, gap cells included, emitted while bucket+6h clears
    // the final watermark and the bucket is not past the user's last
    // data (both rules from the state function's emission loop, in the
    // same millisecond arithmetic)
    "streaming_resample" ->
      """WITH e AS (
        |  SELECT user_id, time_bucket(INTERVAL 6 HOURS, ts::TIMESTAMP)
        |           AS bucket, value, epoch_us(ts::TIMESTAMP) AS us
        |  FROM events),
        |wm AS (SELECT MAX(us) // 1000 - 7200000 AS wm_ms FROM e),
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
        |FROM s LEFT JOIN b ON s.user_id = b.user_id AND s.bucket = b.bucket, wm
        |WHERE epoch_us(s.bucket) // 1000 + 21600000 <= wm.wm_ms
        |ORDER BY 1, 2""".stripMargin,
    // native session_window emission: sessions whose end (last event +
    // 30min gap) the final watermark has passed; session_window starts
    // a NEW session at gap >= 30min (the batch islands oracle uses
    // strictly >, so the boundary rule here mirrors the streaming
    // operator, not the batch twin)
    "streaming_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, ts::TIMESTAMP AS ts_us,
        |         epoch_us(ts::TIMESTAMP) AS us
        |  FROM events),
        |wm AS (SELECT MAX(us) // 1000 - 7200000 AS wm_ms FROM e),
        |l AS (
        |  SELECT *, LAG(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |                   OR epoch_us(ts_us) - epoch_us(prev_ts)
        |                      >= 1800000000
        |            THEN 1 ELSE 0 END AS is_new
        |  FROM l),
        |s AS (
        |  SELECT *, SUM(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM f),
        |g AS (
        |  SELECT user_id, session_id,
        |         MIN(ts_us) AS session_start,
        |         MAX(ts_us) AS session_end,
        |         COUNT(*)::BIGINT AS n_events,
        |         ROUND(SUM(value), 4) AS sum_value
        |  FROM s GROUP BY 1, 2)
        |SELECT session_start, user_id, n_events, sum_value
        |FROM g, wm
        |WHERE epoch_us(session_end) // 1000 + 1800000 <= wm.wm_ms
        |ORDER BY user_id, session_start""".stripMargin,
    // inner stream-stream joins emit every match (watermarks bound
    // state, not emission; single-batch source → nothing late)
    "streaming_interval_join" ->
      """WITH c AS (
        |  SELECT user_id, ts::TIMESTAMP AS click_ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts::TIMESTAMP AS purchase_ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_ts, p.purchase_ts, p.value
        |FROM c JOIN p ON p.user_id = c.user_id
        |  AND p.purchase_ts >= c.click_ts
        |  AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, c.click_ts, p.purchase_ts""".stripMargin,
    "streaming_funnel" ->
      """WITH v AS (
        |  SELECT user_id, ts::TIMESTAMP AS view_ts FROM events
        |  WHERE event_type = 'view'),
        |c AS (
        |  SELECT user_id, ts::TIMESTAMP AS click_ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts::TIMESTAMP AS purchase_ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts, p.value
        |FROM v
        |JOIN c ON c.user_id = v.user_id
        |  AND c.click_ts >= v.view_ts
        |  AND c.click_ts <= v.view_ts + INTERVAL 6 HOUR
        |JOIN p ON p.user_id = c.user_id
        |  AND p.purchase_ts >= c.click_ts
        |  AND p.purchase_ts <= c.click_ts + INTERVAL 12 HOUR
        |ORDER BY v.user_id, v.view_ts, c.click_ts, p.purchase_ts""".stripMargin,
    // append-mode emission = events strictly below the final watermark
    // (max event-time floored to ms, minus the 2h delay — Spark tracks
    // event-time stats in whole milliseconds); frame arithmetic is the
    // batch events_range_frame oracle unchanged
    "streaming_range_frame" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value,
        |         epoch_us(ts::TIMESTAMP) AS us
        |  FROM events),
        |wm AS (
        |  SELECT (MAX(us) // 1000 - 7200000) * 1000 AS wm_us FROM e)
        |SELECT event_id, user_id, n_1h, sum_1h FROM (
        |  SELECT event_id, user_id, us,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
        |    ROUND(SUM(value) OVER w + 1e-9, 4) AS sum_1h
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us
        |               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |) q, wm
        |WHERE q.us < wm.wm_us
        |ORDER BY event_id""".stripMargin,
    // complete-mode final table == batch GROUP BY; the survivor is the
    // min (event-time µs, event_id, value) struct, so ties at the same
    // microsecond break on the unique event_id in both engines
    "streaming_dedup" ->
      """WITH r AS (
        |  SELECT user_id, event_type, ts::TIMESTAMP AS tsq, event_id,
        |    value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts::TIMESTAMP, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_dups
        |  FROM events)
        |SELECT user_id, event_type, tsq AS first_ts,
        |  event_id AS first_event_id, value AS first_value,
        |  CAST(n_dups AS BIGINT) AS n_dups
        |FROM r WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    // the staged two-file permutation pins arrival (each key's
    // max-event_id row arrives first, alone in batch 0), so the
    // arrival-order survivor dropDuplicatesWithinWatermark keeps IS the
    // max-event_id row per key — deliberately not the event-time winner,
    // or the gate couldn't tell arrival semantics from data order
    "streaming_dedup_arrival" ->
      """WITH r AS (
        |  SELECT user_id, event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id AS arrival_event_id, value
        |FROM r WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    // the bloom is a prefilter only — the exact stream-static join it
    // feeds decides, so the oracle states the exact grams-overlap count
    // (same statement as the batch bloom_prefilter oracle)
    "streaming_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])))
        |      AS gram
        |  FROM t WHERE len(toks) >= 3),
        |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
        |SELECT g.doc_id, COUNT(*)::BIGINT AS n_hit
        |FROM g JOIN b ON g.gram = b.gram
        |WHERE g.doc_id % 50 <> 0
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin)
}
