package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.streaming.EventStream
import graft.ops.Relational

/** Watermark late-data semantics + exactly-once-style foreachBatch upsert
  * sink, driven file-by-file so micro-batch boundaries are controlled. */
class StreamingLateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ns(s: String): Long =
    java.sql.Timestamp.valueOf(s).getTime * 1000000L

  private def eventsDf(rows: (Long, String, Long, String, Double)*) =
    rows.toDF("event_id", "tss", "user_id", "event_type", "value")
      .select(col("event_id"),
        (unix_micros(col("tss").cast("timestamp")) * 1000).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))

  /** Drop one parquet part-file per call into the stream's events dir
    * (readEvents watches <dir>/events.parquet/). */
  private def addFile(df: DataFrame, streamDir: String, n: Int): Unit = {
    val staging = TestFixtures.tempDir("graft_stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = Files.list(Paths.get(staging)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val target = Paths.get(streamDir, "events.parquet")
    Files.createDirectories(target)
    Files.move(Paths.get(part), target.resolve(s"batch$n.parquet"))
  }

  test("rows behind the watermark are dropped; finalized windows emit " +
       "exactly once") {
    val streamDir = TestFixtures.tempDir("graft_late").toString
    addFile(eventsDf(
      (1L, "2024-01-01 09:30:00", 1L, "click", 1.0),
      (2L, "2024-01-01 14:00:00", 1L, "click", 1.0)), streamDir, 1)
    val q = EventStream.tumbling(spark, streamDir)
      .writeStream.outputMode("append")
      .format("memory").queryName("late_test").start()
    try {
      q.processAllAvailable()
      // watermark after batch 1 = 14:00 - 2h = 12:00
      // batch 2: a LATE row at 09:45 (behind the 12:00 watermark) plus an
      // on-time row
      addFile(eventsDf(
        (3L, "2024-01-01 09:45:00", 1L, "click", 1.0),
        (4L, "2024-01-01 15:00:00", 1L, "click", 1.0)), streamDir, 2)
      q.processAllAvailable()
      // batch 3: advance the watermark far enough to finalize everything
      addFile(eventsDf(
        (5L, "2024-01-01 19:00:00", 1L, "click", 1.0)), streamDir, 3)
      q.processAllAvailable()
      def win(h: String) = spark.table("late_test")
        .filter(col("window_start") ===
          java.sql.Timestamp.valueOf(s"2024-01-01 $h:00:00"))
        .collect()
      // the late 09:45 row was dropped: the finalized 09:00 window emitted
      // exactly once, with count 1, not 2
      assert(win("09").map(_.getLong(2)).toSeq === Seq(1L))
      // the on-time rows' windows finalized normally
      assert(win("14").map(_.getLong(2)).toSeq === Seq(1L))
      assert(win("15").map(_.getLong(2)).toSeq === Seq(1L))
    } finally q.stop()
  }

  test("funnel restart recovery: stopped mid-stream and restarted from " +
       "its checkpoint, the parquet sink converges to the batch cascade " +
       "on both state store providers") {
    val fixture = "/root/testdata/sf0.001"
    // ground truth: the batch cascade (StreamingSpec's twin); it also
    // picks the KILL POINT — the click instant of the widest completed
    // funnel whose purchase lands strictly later, so at the stop the
    // checkpointed join state HOLDS that funnel's view+click and only a
    // correct state restore can ever emit the match
    val e = Tables.events(spark, fixture)
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
                 r.getTimestamp(3), r.getDouble(4)))
    assert(batch.nonEmpty, "fixture must contain full funnels")
    val spanning = batch.filter(m => m._4.getTime > m._3.getTime)
    assert(spanning.nonEmpty,
      "need a funnel whose purchase strictly follows its click")
    val cut = spanning
      .maxBy(m => m._4.getTime - m._3.getTime)._3 // widest click→purchase
    // the raw fixture split at the cut (ts surfaces as NTZ wall-clock ≡
    // instant under the UTC session): part 1 delivers the spanning
    // funnel's view+click, part 2 its purchase — event-time ordered
    // delivery, so watermark eviction cannot change the result
    val raw = spark.read.parquet(s"$fixture/events.parquet")
    val rawTs = col("ts").cast("timestamp")
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    for (provider <- Seq(None, Some(rocks))) {
      val streamDir = TestFixtures.tempDir("graft_restart").toString
      val out = TestFixtures.tempDir("graft_restart_out").toString
      val ckpt = TestFixtures.tempDir("graft_restart_ck").toString
      addFile(raw.filter(rawTs <= cut), streamDir, 1)
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProv = spark.conf.getOption(provKey)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      provider.foreach(spark.conf.set(provKey, _))
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        def start() = EventStream
          .funnelJoinStream(spark, streamDir, filesPerTrigger = Some(1))
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, id: Long) =>
            b.write.mode("overwrite").parquet(s"$out/b$id")
          }
          .start()
        // run 1: drain part 1, then die — the spanning funnel is now
        // nothing but rows inside the two joins' checkpointed state
        val q1 = start()
        try q1.processAllAvailable() finally q1.stop()
        // part 2 arrives while the query is down
        addFile(raw.filter(rawTs > cut), streamDir, 2)
        // run 2: recover from the checkpoint and finish the stream
        val q2 = start()
        try {
          q2.processAllAvailable()
          assert(q2.recentProgress.nonEmpty,
            "the restarted query must actually process the new file")
        } finally q2.stop()
        val dirs = Files.list(Paths.get(out)).toArray.map(_.toString).sorted
        val got = spark.read.parquet(dirs: _*).collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
                     r.getTimestamp(3), r.getDouble(4)))
        assert(got.length === batch.length,
          s"provider=$provider: exactly-once emission count")
        assert(got.toSet === batch.toSet,
          s"provider=$provider: recovered stream must equal the batch " +
            "cascade bit-for-bit")
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        prevProv match {
          case Some(v) => spark.conf.set(provKey, v)
          case None    => spark.conf.unset(provKey)
        }
      }
    }
  }

  test("flatMapGroupsWithState restart recovery: the range-frame twin " +
       "killed while events exist only in user-managed state converges " +
       "bit-equal to the uninterrupted run on both state store providers") {
    // The funnel test above covers the stream-stream JOIN state path;
    // this covers the riskier recovery surface — a user-defined state
    // function with its own encoded state (buffered event rows) and
    // event-time TIMERS (setTimeoutTimestamp), both of which must round-
    // trip the checkpoint for the restarted query to finish the frames.
    val fixture = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$fixture/events.parquet")
    val rawTs = col("ts").cast("timestamp")
    // cut at the median instant: part 1 leaves its trailing 2h of events
    // buffered UNEMITTED in state (they sit above part 1's watermark);
    // part 2 advances the watermark past them, so their emission happens
    // AFTER the restart and their 1h frames reach back into rows only a
    // correct state restore still holds
    val cut = raw.select(rawTs.as("t")).orderBy(col("t"))
      .collect().map(_.getTimestamp(0))
    val cutTs = cut(cut.length / 2)
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    for (provider <- Seq(None, Some(rocks))) {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProv = spark.conf.getOption(provKey)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      provider.foreach(spark.conf.set(provKey, _))
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        // one run = (streamDir, out, ckpt); `phases` lists the file sets
        // delivered between (re)starts — Seq(all) is the uninterrupted
        // control, Seq(part1, part2) the kill/restart run. Both see the
        // SAME file-per-trigger boundaries, so watermark trajectories
        // (and hence emission sets) are identical by construction.
        def run(phases: Seq[Seq[DataFrame]]): (Seq[(Long, Long, Long, Double)], Boolean) = {
          val streamDir = TestFixtures.tempDir("graft_rf").toString
          val out = TestFixtures.tempDir("graft_rf_out").toString
          val ckpt = TestFixtures.tempDir("graft_rf_ck").toString
          var n = 0
          var stateAtKill = false
          phases.zipWithIndex.foreach { case (files, phase) =>
            files.foreach { f => n += 1; addFile(f, streamDir, n) }
            val q = EventStream
              .rangeFrameStream(spark, streamDir, filesPerTrigger = Some(1))
              .writeStream.outputMode("append")
              .option("checkpointLocation", ckpt)
              .foreachBatch { (b: DataFrame, id: Long) =>
                b.write.mode("overwrite").parquet(s"$out/b$id")
              }
              .start()
            try {
              q.processAllAvailable()
              if (phase == 0 && phases.length > 1)
                stateAtKill = q.recentProgress.exists(
                  _.stateOperators.exists(_.numRowsTotal > 0))
            } finally q.stop()
          }
          val dirs = Files.list(Paths.get(out)).toArray.map(_.toString)
            .sorted
          val rows = spark.read.parquet(dirs: _*).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                       r.getDouble(3))).toSeq
          (rows, stateAtKill)
        }
        val part1 = raw.filter(rawTs <= cutTs)
        val part2 = raw.filter(rawTs > cutTs)
        val (control, _) = run(Seq(Seq(part1, part2)))
        assert(control.nonEmpty, "control run must emit frames")
        val (recovered, stateAtKill) = run(Seq(Seq(part1), Seq(part2)))
        assert(stateAtKill,
          s"provider=$provider: the kill must land while state is live " +
            "or the test proves nothing")
        assert(recovered.sorted === control.sorted,
          s"provider=$provider: restarted run must equal the " +
            "uninterrupted run bit-for-bit")
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        prevProv match {
          case Some(v) => spark.conf.set(provKey, v)
          case None    => spark.conf.unset(provKey)
        }
      }
    }
  }

  test("arrival-dedup restart recovery: keys admitted before the stop " +
       "stay deduped after it, on both state store providers") {
    // the twin's own staging splits winners/losers into two files; here
    // the split is fed ONE FILE PER RUN with a kill in between, so every
    // loser arrives against RESTORED dropDuplicatesWithinWatermark
    // state — a failed restore would emit losers as fresh keys
    val fixture = "/root/testdata/sf0.001"
    import org.apache.spark.sql.expressions.Window
    val ranked = Tables.events(spark, fixture)
      .select(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value"))
      .withColumn("arn", row_number().over(Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("event_id").desc)))
    val winners = ranked.filter(col("arn") === 1).drop("arn")
    val losers = ranked.filter(col("arn") =!= 1).drop("arn")
    val want = winners.collect()
      .map(r => (r.getLong(2), r.getString(3)) -> r.getLong(0)).toMap
    assert(want.nonEmpty)
    def addFlat(df: DataFrame, dir: String, name: String): Unit = {
      val staging = TestFixtures.tempDir("graft_arr_stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = Files.list(Paths.get(staging)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(part), Paths.get(dir, name))
    }
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    for (provider <- Seq(None, Some(rocks))) {
      val streamDir = TestFixtures.tempDir("graft_arrdd").toString
      val out = TestFixtures.tempDir("graft_arrdd_out").toString
      val ckpt = TestFixtures.tempDir("graft_arrdd_ck").toString
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProv = spark.conf.getOption(provKey)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      provider.foreach(spark.conf.set(provKey, _))
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        addFlat(winners, streamDir, "f_0000.parquet")
        def start() = graft.streaming.EventStream
          .dedupArrivalStreamFrom(spark, streamDir)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, id: Long) =>
            b.write.mode("overwrite").parquet(s"$out/b$id")
          }
          .start()
        val q1 = start()
        try q1.processAllAvailable() finally q1.stop()
        addFlat(losers, streamDir, "f_0001.parquet")
        val q2 = start()
        try {
          q2.processAllAvailable()
          assert(q2.recentProgress.nonEmpty)
        } finally q2.stop()
        val dirs = Files.list(Paths.get(out)).toArray.map(_.toString)
          .sorted
        val got = spark.read.parquet(dirs: _*).collect()
          .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        assert(got.length === want.size,
          s"provider=$provider: exactly one survivor per key — a loser " +
            "slipping through means the state did not restore")
        assert(got.toMap === want,
          s"provider=$provider: survivors must be the first-arrived " +
            "(max event_id) payloads")
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        prevProv match {
          case Some(v) => spark.conf.set(provKey, v)
          case None    => spark.conf.unset(provKey)
        }
      }
    }
  }

  test("foreachBatch sink: streamed keyed upsert converges to the batch " +
       "last-writer-wins result") {
    val streamDir = TestFixtures.tempDir("graft_fb").toString
    val sinkPath = TestFixtures.tempDir("graft_sink").toString + "/state"
    addFile(eventsDf(
      (1L, "2024-01-01 10:00:00", 1L, "click", 1.0),
      (2L, "2024-01-01 10:05:00", 2L, "view", 2.0)), streamDir, 1)
    addFile(eventsDf(
      (3L, "2024-01-01 11:00:00", 1L, "click", 9.0),   // updates key (1,click)
      (4L, "2024-01-01 11:30:00", 3L, "click", 3.0)), streamDir, 2)
    val q = EventStream.readEvents(spark, streamDir, filesPerTrigger = Some(1))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val incoming = batch.select("user_id", "event_type", "event_id",
          "ts", "value")
        // read-merge-write cycles MUST read via readCommitted (crash-safe
        // restore before the merge decision) — see Pipeline.atomicWrite
        val merged = Pipeline.readCommitted(incoming.sparkSession, sinkPath)
          .map(existing => Relational.lastWriterWins(
            existing.unionByName(incoming),
            Seq("user_id", "event_type"),
            Seq(col("ts").desc, col("event_id").desc)))
          .getOrElse(incoming)
        Pipeline.atomicWrite(merged, sinkPath)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(sinkPath)
      .select("user_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(got === Map((1L, "click") -> 9.0, (2L, "view") -> 2.0,
                       (3L, "click") -> 3.0))
  }
}
