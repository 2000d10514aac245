package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Events
import graft.streaming.EventStream

/** Structured Streaming twins vs their batch equivalents on the real
  * sf0.001 events fixture: same aggregation, memory sink, synchronous
  * processAllAvailable. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming tumbling counts == batch tumbling counts (append mode, " +
       "finalized windows)") {
    val q = EventStream.tumbling(spark, "/root/testdata/sf0.001")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_tumbling").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_tumbling")
        .select(col("window_start"), col("event_type"), col("n_events"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val batch = Events.tumbling(spark, "/root/testdata/sf0.001")
        .select(col("window_start"), col("event_type"), col("n_events"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
      // Append mode only emits windows finalized by the watermark; every
      // emitted window must match the batch result exactly, and most
      // windows (all but the trailing watermark horizon) must be emitted.
      assert(streamed.nonEmpty)
      streamed.foreach { case (k, n) => assert(batch(k) === n) }
      assert(streamed.size >= batch.size / 2)
    } finally q.stop()
  }

  test("streaming resample emits the batch grid INCLUDING gap buckets, up to the watermark") {
    val q = EventStream.resampleStream(spark, "/root/testdata/sf0.001")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_resample").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_resample").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1)) ->
          (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .toMap
      val batch = Events.resample(spark, "/root/testdata/sf0.001").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1)) ->
          (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .toMap
      assert(got.nonEmpty)
      // every emitted bucket — data or gap — must match the batch grid
      got.foreach { case (k, v) => assert(batch(k) === v, s"bucket $k") }
      // and gap buckets were actually exercised, not vacuously absent
      assert(got.values.exists(_._1 == 0L), "no gap bucket was emitted")
      // all but the trailing watermark horizon must have been finalized
      assert(got.size >= batch.size / 2)
    } finally q.stop()
  }

  test("flatMapGroupsWithState running totals equal the batch aggregate") {
    val q = EventStream.runningUserStats(spark, "/root/testdata/sf0.001")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_state").start()
    try {
      q.processAllAvailable()
      // last emitted row per user = final running total
      val got = spark.table("stream_state")
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = Tables.events(spark, "/root/testdata/sf0.001")
        .groupBy(col("user_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch interval join") {
    val q = EventStream.clickPurchaseJoin(spark, "/root/testdata/sf0.001")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_join").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_join").count()
      val ev = Tables.events(spark, "/root/testdata/sf0.001")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      val want = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .count()
      // append-mode emits only watermark-finalized matches; a single-file
      // source processes everything, so counts must agree
      assert(got === want && want > 0)
    } finally q.stop()
  }

  test("stream-stream interval join with FORCED key banding emits " +
       "exactly the unbanded set (both-branches pin for the band dial)") {
    // fixtures sit below the graft.band.minRows gate, so the banded
    // branch would otherwise only run at probe scale — force it and pin
    // equality against the same batch truth the unbanded test uses
    sys.props("graft.band.minRows") = "0"
    try {
      val q = EventStream.clickPurchaseJoin(spark, "/root/testdata/sf0.001")
        .writeStream.outputMode("append")
        .format("memory").queryName("stream_join_banded").start()
      try {
        q.processAllAvailable()
        val got = spark.table("stream_join_banded").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                     r.getDouble(3))).toSet
        val ev = Tables.events(spark, "/root/testdata/sf0.001")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"),
                  col("ts").as("purchase_ts"), col("value"))
        val want = clicks.join(purchases,
            col("user_id") === col("p_user") &&
              col("purchase_ts") >= col("click_ts") &&
              col("purchase_ts") <= col("click_ts") +
                expr("INTERVAL 1 HOUR"))
          .select(col("user_id"), col("click_ts"), col("purchase_ts"),
                  col("value")).collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                     r.getDouble(3))).toSet
        assert(want.nonEmpty && got === want)
      } finally q.stop()
    } finally sys.props.remove("graft.band.minRows")
  }

  test("3-way funnel with FORCED key banding emits exactly the " +
       "unbanded set (both-branches pin for the band dial)") {
    val dir = "/root/testdata/sf0.001"
    sys.props("graft.band.minRows") = "0"
    try {
      val q = EventStream.funnelJoinStream(dir = dir, spark = spark)
        .writeStream.outputMode("append")
        .format("memory").queryName("stream_funnel_banded").start()
      try {
        q.processAllAvailable()
        val streamed = spark.table("stream_funnel_banded").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                     r.getTimestamp(3), r.getDouble(4))).toSet
        val e = Tables.events(spark, dir)
        def leg(t: String, n: String) = e.filter(col("event_type") === t)
          .select(col("user_id").as(s"${n}_u"), col("ts").as(s"${n}_ts"),
                  col("value").as(s"${n}_v"))
        val batch = leg("view", "v")
          .join(leg("click", "c"), col("v_u") === col("c_u") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("INTERVAL 6 HOURS"))
          .join(leg("purchase", "p"), col("c_u") === col("p_u") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 12 HOURS"))
          .select(col("v_u"), col("v_ts"), col("c_ts"), col("p_ts"),
                  col("p_v")).collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                     r.getTimestamp(3), r.getDouble(4))).toSet
        assert(batch.nonEmpty && streamed === batch)
      } finally q.stop()
    } finally sys.props.remove("graft.band.minRows")
  }

  test("streaming dedup keeps exactly one row per (user, type)") {
    val q = EventStream.dedupStream(spark, "/root/testdata/sf0.001")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_dedup")
      val distinctKeys = Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("user_id"), col("event_type")).distinct().count()
      assert(got.count() === distinctKeys)
      assert(got.select(col("user_id"), col("event_type"))
        .distinct().count() === distinctKeys)
    } finally q.stop()
  }

  test("arrival-pinned streaming dedup keeps the FIRST-ARRIVED payload " +
       "(max event_id via the staged permutation), not the event-time " +
       "winner") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.streaming.StreamingBatch
      .streamingDedupArrival(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
                 r.getTimestamp(3)))
    val byKey = ev.groupBy(x => (x._1, x._2))
    assert(got.keySet === byKey.keySet)
    // survivor = the pinned first arrival (max event_id per key)
    byKey.foreach { case (k, rows) =>
      assert(got(k) === rows.map(_._3).max, s"key $k")
    }
    // the pin is testing ARRIVAL semantics, not a data order: for some
    // key the arrival winner differs from the event-time winner the
    // batch/complete-mode dedups keep
    val diverges = byKey.exists { case (k, rows) =>
      val eventTimeWinner =
        rows.minBy(x => (x._4.getTime, x._3))._3
      got(k) != eventTimeWinner
    }
    assert(diverges,
      "fixture must hold a key whose arrival winner != event-time winner")
  }

  test("streaming range-frame features equal the batch RANGE window on " +
       "every emitted event") {
    val q = EventStream.rangeFrameStream(spark, "/root/testdata/sf0.001")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_rangeframe").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_rangeframe").collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
      val batch = graft.ops.Events
        .rangeFrame(spark, "/root/testdata/sf0.001").collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(got.nonEmpty)
      // every emitted event's trailing-1h (count, sum) must equal the
      // batch RANGE frame bit-for-bit
      got.foreach { case (eid, v) => assert(batch(eid) === v, s"event $eid") }
      // emission reaches everything older than the watermark horizon
      assert(got.size >= batch.size / 2)
      // frames beyond a single event were actually exercised
      assert(got.values.exists(_._1 > 1L))
    } finally q.stop()
  }

  test("streaming session windows cover every event exactly once") {
    val q = EventStream.sessions(spark, "/root/testdata/sf0.001")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_sessions").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stream_sessions")
      val nEvents = emitted.agg(sum(col("n_events"))).head().getLong(0)
      val total = Tables.events(spark, "/root/testdata/sf0.001").count()
      // finalized sessions only (append mode) — bounded by the total and
      // covering the bulk of the fixture
      assert(nEvents > 0 && nEvents <= total)
    } finally q.stop()
  }

  test("streaming ingest decontamination: no false negatives vs the " +
       "exact batch prefilter, candidate counts bound the exact hits") {
    val dir = "/root/testdata/sf0.001"
    val q = EventStream.decontaminateStream(spark, dir)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_decontam").start()
    try {
      q.processAllAvailable()
      val tagged = spark.table("stream_decontam")
        .filter(col("might_contaminated"))
        .select(col("doc_id"), col("n_candidates")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exact = graft.ops.Curation.bloomPrefilter(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Bloom guarantees: every exactly-contaminated doc is tagged, and
      // its candidate-gram count is at least its exact hit count.
      exact.foreach { case (id, nHit) =>
        assert(tagged.contains(id), s"doc $id contaminated but untagged")
        assert(tagged(id) >= nHit)
      }
    } finally q.stop()
  }

  test("streaming heavy hitters: final table equals the batch operator " +
       "(sketch prunes, exact count decides) and state stays below the " +
       "pruned-candidate bound") {
    val streamed = graft.streaming.StreamingBatch
      .streamingHeavyHitters(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.ops.Corpus
      .cmsHeavyHitters(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch,
      "the streaming twin must reproduce the batch heavy hitters exactly")
    assert(streamed.nonEmpty)
  }

  test("streaming mm admission: final table equals the batch perceptual " +
       "gate bit-for-bit (stateless verdicts against the static band " +
       "index) and both verdict branches occur") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
       if (r.isNullAt(2)) -1L else r.getLong(2),
       if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))
    val streamed = graft.streaming.StreamingBatch
      .streamingMmAdmission(spark, "/root/testdata/sf0.001").collect()
      .map(key).toSeq.sorted
    val batch = graft.ops.Multimodal
      .perceptualAdmission(spark, "/root/testdata/sf0.001").collect()
      .map(key).toSeq.sorted
    assert(streamed === batch,
      "the streaming twin must reproduce the batch admission verdicts")
    assert(streamed.nonEmpty)
    assert(streamed.exists(_._5) && streamed.exists(!_._5),
      "fixture should exercise both admit and reject branches")
  }

  test("streaming ann admission: final table equals batch " +
       "ann_incremental bit-for-bit (stateless probe-ball join against " +
       "the published bucket index; within-batch verdict reduce) and " +
       "both verdict branches occur") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
       if (r.isNullAt(2)) -1L else r.getLong(2),
       if (r.isNullAt(3)) -2.0 else r.getDouble(3), r.getBoolean(4))
    val streamed = graft.streaming.StreamingBatch
      .streamingAnnAdmission(spark, "/root/testdata/sf0.001").collect()
      .map(key).toSeq.sorted
    val batch = graft.ops.Similarity
      .annIncremental(spark, "/root/testdata/sf0.001").collect()
      .map(key).toSeq.sorted
    assert(streamed === batch,
      "the streaming twin must reproduce the batch admission verdicts")
    assert(streamed.nonEmpty)
    // sf0.001 plants no ≥0.9 vector near-dup, so no reject occurs —
    // assert instead that the join tier genuinely produced candidates
    // (a broken index join would trivially admit everything with
    // n_candidates = 0 and still "match" an equally broken batch)
    assert(streamed.exists(_._2 > 0),
      "some probes must meet corpus candidates through the bucket join")
    assert(streamed.exists(_._4 >= -1.0),
      "some verdict must carry a real best_sim")
  }

  test("streaming quality: final tallies equal the batch ensemble " +
       "rollup (shared verdict chain, stateless map + Θ(6)-row state)") {
    val streamed = graft.streaming.StreamingBatch
      .streamingQuality(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = graft.ops.Curation
      .qualityEnsemble(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(11), r.getBoolean(12)))
      .groupBy(_._1).view
      .mapValues(v => (v.size.toLong, v.count(_._2).toLong)).toMap
    assert(streamed === batch,
      "the streaming twin must reproduce the batch rollup exactly")
    assert(streamed.nonEmpty)
    streamed.foreach { case (np, (nd, nk)) =>
      assert(nk === (if (np == 5) nd else 0L), "keep ⇔ all five rules")
    }
  }

  test("streaming psi drift: final report equals the batch audit " +
       "bit-for-bit (published baseline edges, complete-mode bin counts, " +
       "shared psiTail) and every decile bin is populated") {
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2),
       r.getDouble(3), r.getDouble(4), r.getDouble(5))
    val streamed = graft.streaming.StreamingBatch
      .streamingPsiDrift(spark, dir).collect().map(key).toSeq.sorted
    val batch = graft.ops.Audit.psiDrift(spark, dir).collect()
      .map(key).toSeq.sorted
    assert(streamed === batch,
      "the streaming twin must reproduce the batch PSI report exactly")
    assert(streamed.nonEmpty)
    // base deciles: every bin holds base rows by construction
    assert(streamed.forall(_._2 > 0))
  }

  test("complete-mode running totals equal the batch aggregate after " +
       "the last batch") {
    val dir = "/root/testdata/sf0.001"
    val q = EventStream.runningTypeTotals(spark, dir)
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_totals").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_totals").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val want = Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(org.apache.spark.sql.functions.count(
               org.apache.spark.sql.functions.lit(1)).as("n"),
             org.apache.spark.sql.functions.round(
               org.apache.spark.sql.functions.sum(col("value")), 4)
               .as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1),
          r.getDouble(2))).toMap
      assert(got === want)
    } finally q.stop()
  }

  test("streaming seasonal decomposition equals the batch operator " +
       "row-for-row through the shared cell + derivation chain") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.streaming.StreamingBatch
      .streamingSeasonal(spark, dir).collect().map(_.toSeq)
    val want = graft.ops.Events.seasonalDow(spark, dir)
      .collect().map(_.toSeq)
    assert(got.toSeq === want.toSeq)
  }

  test("streaming quota admits exactly the first 100 events per user " +
       "in (ts, id) order") {
    val dir = "/root/testdata/sf0.001"
    val q = EventStream.quotaStream(spark, dir)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_quota").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("stream_quota").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      val total = Tables.events(spark, dir).count()
      assert(rows.length === total, "every event flows through, tagged")
      val admitted = rows.filter(_._3).groupBy(_._2).view
        .mapValues(_.map(_._1).toSet).toMap
      val events = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
      events.groupBy(_._2).foreach { case (uid, es) =>
        val want = es.sortBy(e => (e._3.getTime, e._1)).take(100)
          .map(_._1).toSet
        assert(admitted.getOrElse(uid, Set.empty) === want, s"user $uid")
      }
    } finally q.stop()
  }

  test("3-way stream-stream funnel join matches the batch cascade") {
    val dir = "/root/testdata/sf0.001"
    val q = EventStream.funnelJoinStream(dir = dir, spark = spark)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_funnel3").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_funnel3").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                   r.getTimestamp(3), r.getDouble(4))).toSet
      val e = Tables.events(spark, dir)
      def leg(t: String, n: String) = e.filter(col("event_type") === t)
        .select(col("user_id").as(s"${n}_u"), col("ts").as(s"${n}_ts"),
                col("value").as(s"${n}_v"))
      val batch = leg("view", "v")
        .join(leg("click", "c"), col("v_u") === col("c_u") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + org.apache.spark.sql.functions
            .expr("INTERVAL 6 HOURS"))
        .join(leg("purchase", "p"), col("c_u") === col("p_u") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + org.apache.spark.sql.functions
            .expr("INTERVAL 12 HOURS"))
        .select(col("v_u"), col("v_ts"), col("c_ts"), col("p_ts"),
                col("p_v")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                   r.getTimestamp(3), r.getDouble(4))).toSet
      assert(batch.nonEmpty, "fixture must contain full funnels")
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stream-static enrichment matches the batch join, every event " +
       "delivered exactly once") {
    val dir = "/root/testdata/sf0.001"
    val q = EventStream.enrichStream(spark, dir)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_enrich").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_enrich").collect()
        .map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5))).toMap
      val events = Tables.events(spark, dir)
      val dim = events.groupBy(col("user_id"))
        .agg(org.apache.spark.sql.functions.min(col("ts")).as("fs"),
             org.apache.spark.sql.functions.count(
               org.apache.spark.sql.functions.lit(1)).as("n"))
      val batch = events.join(dim, Seq("user_id"))
        .select(col("event_id"), col("n"),
          org.apache.spark.sql.functions.expr(
            "unix_micros(ts) - unix_micros(fs)").as("d"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(streamed.size === events.count())
      assert(streamed === batch)
      // the plan must broadcast the static side — a shuffled stream-side
      // join would re-shuffle every micro-batch
      assert(q.lastProgress != null)
    } finally q.stop()
  }

  test("event-time-first streaming dedup equals the batch min-struct " +
       "survivor under any arrival order") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.streaming.StreamingBatch.streamingDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getTimestamp(2), r.getLong(3), r.getLong(5))).toMap
    val want = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"), col("value"))).as("w"),
           count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> {
        val w = r.getStruct(2)
        (w.getTimestamp(0), w.getLong(1), r.getLong(3))
      }).toMap
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("verified streaming decontamination equals the batch bloom " +
       "prefilter (sketch-independent final counts)") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.streaming.StreamingBatch
      .streamingDecontaminate(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.ops.Curation.bloomPrefilter(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("range-frame stream state is BOUNDED: watermark eviction removes " +
       "drained users, final state holds only horizon-live keys") {
    // The 100 TB streaming property is not parity (other tests pin
    // that) but that state CANNOT grow with the stream: rangeFrame's
    // eviction keeps rows at us >= wm - 1h and removes a key whose
    // buffer drains. Final state row count for fMGWS = live KEYS, read
    // from stateOperators; the fixture spans 30 days with most users
    // inactive near the end, so an implementation that forgot
    // state.remove() (or kept dead history) fails the <= bound.
    val dir = "/root/testdata/sf0.001"
    val q = EventStream.rangeFrameStream(spark, dir)
      .writeStream.outputMode("append")
      .format("memory").queryName("state_horizon").start()
    try {
      q.processAllAvailable()
      val prog = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      assert(prog.nonEmpty, "no stateOperators progress recorded")
      val keys = prog.get.stateOperators.map(_.numRowsTotal).sum
      val e = Tables.events(spark, dir)
      val mx = e.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      // horizon = watermark (max - 2h) minus the 1h frame reach, with
      // 10 min slop for the watermark's final-batch ms truncation —
      // slop only WIDENS the allowed key set, keeping the bound safe
      val horizon =
        new java.sql.Timestamp(mx.getTime - 3L * 3600 * 1000 - 600000L)
      val live = e.filter(col("ts") >= lit(horizon))
        .select(col("user_id")).distinct().count()
      val all = e.select(col("user_id")).distinct().count()
      assert(live < all,
        "fixture drift: every user is horizon-live, the bound can't bite")
      assert(keys > 0 && keys <= live,
        s"state keys $keys exceed the $live horizon-live users")
    } finally q.stop()
  }

  test("resample stream state is O(users): one cursor row per user ever " +
       "seen, never per-event accumulation") {
    // resample's per-key state is a grid cursor plus open buckets —
    // the cursor must SURVIVE a drained key (it emits the gap cells
    // between old and new activity when the user returns), so the
    // sharp bound is equality: state rows == distinct users, proving
    // state scales with the key space and not with events processed
    // (1000 events, 15 users on this fixture).
    val dir = "/root/testdata/sf0.001"
    val q = EventStream.resampleStream(spark, dir)
      .writeStream.outputMode("append")
      .format("memory").queryName("state_cursor").start()
    try {
      q.processAllAvailable()
      val prog = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      assert(prog.nonEmpty, "no stateOperators progress recorded")
      val keys = prog.get.stateOperators.map(_.numRowsTotal).sum
      val users = Tables.events(spark, dir)
        .select(col("user_id")).distinct().count()
      assert(keys === users,
        s"state rows $keys != $users distinct users — per-event state?")
    } finally q.stop()
  }

  test("streaming_totals on a fixture dir given relative to the working " +
       "dir returns the rows of the absolute dir") {
    // the staged stream dir symlinks the source file: a relative link
    // target would resolve against the temp dir and read 0 rows
    val abs = java.nio.file.Paths.get("/root/testdata/sf0.001")
    assert(java.nio.file.Files.isDirectory(abs), s"fixture $abs is missing")
    val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(abs)
    assert(!rel.isAbsolute)
    def totals(dir: String) = graft.streaming.StreamingBatch
      .streamingTotals(spark, dir).collect().toSeq
    val want = totals(abs.toString)
    assert(want.nonEmpty)
    assert(totals(rel.toString) === want)
  }

  // A twin's staged artifacts (the arrival permutation, the published
  // baseline edges) are keyed by the content of the table they derive
  // from: rewriting that table in place must not serve the old copy.
  private val sf = "/root/testdata/sf0.001"

  /** Sorted rows of `df`, for order-free comparison. */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("streaming_dedup_arrival after an in-place rewrite of events " +
       "equals the twin on a fresh dir holding the new bytes") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_fixture")
    TestFixtures.replaceTableFile(
      ev.filter(col("event_id") % 3 =!= 0), dir.toString, "events")
    def run(d: String) = rows(
      graft.streaming.StreamingBatch.streamingDedupArrival(spark, d))
    val before = run(dir.toString)
    TestFixtures.replaceTableFile(
      ev.filter(col("event_id") % 3 =!= 1), dir.toString, "events")
    val fresh = java.nio.file.Files.createTempDirectory("graft_fixture")
    java.nio.file.Files.copy(dir.resolve("events.parquet"),
      fresh.resolve("events.parquet"))
    val want = run(fresh.toString)
    assert(want !== before, "the rewrite must change the answer")
    assert(run(dir.toString) === want)
  }

  test("streaming_psi_drift after an in-place rewrite of orders equals " +
       "batch psi_drift on the new bytes") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_fixture")
      .toString
    TestFixtures.replaceTableFile(
      orders.filter(col("o_orderkey") % 3 =!= 0), dir, "orders")
    def twin() = rows(
      graft.streaming.StreamingBatch.streamingPsiDrift(spark, dir))
    val before = twin()
    TestFixtures.replaceTableFile(
      orders.filter(col("o_orderkey") % 3 =!= 1), dir, "orders")
    val want = rows(graft.ops.Audit.psiDrift(spark, dir))
    assert(want !== before, "the rewrite must change the answer")
    assert(twin() === want)
  }
}
