package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only lifecycle profiler for the streaming twins: runs one named
  * streaming query (via SparkEntry) repeatedly and, with a job listener
  * plus StreamingQueryProgress, splits each invocation's wall into
  *   - Spark JOB time (the dataflow),
  *   - micro-batch machinery (progress-reported batch durations minus
  *     their job time: planning, state-store lifecycle, offset/commit
  *     log writes),
  *   - harness residue (query start/stop, sink read-back, everything
  *     else).
  * The split is what decides whether the streaming floor is dataflow
  * (optimizable here) or lifecycle (Spark-internal). Not part of the
  * driver contract; harmless to ship.
  *
  * Usage: SPARK_GRAFT_CPUS=8 tools/run.sh graft.tools.StreamProf \
  *          streaming_funnel 3 [sfDir]
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("streaming_funnel")
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir =
      if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession
      .builder(s"local[$cpus]", shufflePartitions = Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobStart =
      new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val jobNanos = new java.util.concurrent.atomic.AtomicLong(0)
    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart.put(js.jobId, System.nanoTime())
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(je.jobId)).foreach { t0 =>
          jobNanos.addAndGet(System.nanoTime() - t0)
          jobCount.incrementAndGet()
        }
      }
    })
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm: staging/models out of the picture
    spark.catalog.clearCache()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      val batchMs = new java.util.concurrent.atomic.AtomicLong(0)
      val batches = new java.util.concurrent.atomic.AtomicLong(0)
      val addBatchMs = new java.util.concurrent.atomic.AtomicLong(0)
      val planMs = new java.util.concurrent.atomic.AtomicLong(0)
      val commitMs = new java.util.concurrent.atomic.AtomicLong(0)
      val offsetMs = new java.util.concurrent.atomic.AtomicLong(0)
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryProgressEvent): Unit = {
        batchMs.addAndGet(e.progress.batchDuration)
        batches.incrementAndGet()
        val d = e.progress.durationMs
        def get(k: String) =
          Option(d.get(k)).map(_.longValue).getOrElse(0L)
        addBatchMs.addAndGet(get("addBatch"))
        planMs.addAndGet(get("queryPlanning"))
        commitMs.addAndGet(get("commitOffsets") + get("walCommit"))
        offsetMs.addAndGet(get("latestOffset") + get("getOffset"))
      }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    (1 to reps).foreach { i =>
      jobNanos.set(0); jobCount.set(0)
      listener.batchMs.set(0); listener.batches.set(0)
      listener.addBatchMs.set(0); listener.planMs.set(0)
      listener.commitMs.set(0); listener.offsetMs.set(0)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val jobs = jobNanos.get() / 1e9
      val batch = listener.batchMs.get() / 1e3
      println(f"--- $name run $i: wall $wall%.2fs rows=$n")
      println(f"    jobs ${jobCount.get()}%3d sum $jobs%.2fs | " +
        f"batches ${listener.batches.get()} dur $batch%.2fs " +
        f"(addBatch ${listener.addBatchMs.get() / 1e3}%.2f " +
        f"plan ${listener.planMs.get() / 1e3}%.2f " +
        f"offsets ${listener.offsetMs.get() / 1e3}%.2f " +
        f"commit ${listener.commitMs.get() / 1e3}%.2f) | " +
        f"outside-batch ${wall - batch}%.2fs")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
