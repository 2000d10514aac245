package graft
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession
      .builder(s"local[$cpus]", shufflePartitions = Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_ONLY=a,b,c restricts the run to named queries — a local
    // iteration aid; the driver never sets it. Tokens are trimmed and
    // unknown names rejected loudly: a typo that silently selected zero
    // queries would print a well-formed total of 0.0 that reads as an
    // impossibly fast successful run.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { s =>
      val unknown = s -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    // Sorted execution order: Map iteration order shifts as the suite
    // grows, and suite-context pressure (GC, page cache) inflates whatever
    // runs late — measured: corpus_curate 2.5s isolated vs 8.2s landing
    // late in an unsorted 146-query run. A fixed order keeps per-query
    // numbers comparable round-over-round.
    val selected = only.fold(SparkEntry.queries)(s =>
      SparkEntry.queries.filter { case (k, _) => s(k) })
      .toSeq.sortBy(_._1)
    // TIMED warmup = the COLD column: first executions pay the one-time
    // costs the steady-state passes below never see — artifact staging
    // (Staged.layer pair/label layers), model training (Staged.value),
    // plus JVM/codegen/scan init. Recording it per query makes
    // artifact-consumer regressions self-diagnosing: a WARM regression
    // with cold unchanged is plan drift in the steady-state read; a COLD
    // regression with warm flat is staging cost, which a deployment
    // amortizes once per corpus. Diagnostic only — the headline total and
    // the round-over-round comparison stay on the warm min-of-3 (cold
    // also carries codegen-order and first-touch page-cache noise).
    // Janino compiles per query, from Spark's own counter (one count per
    // generated class compiled, on any thread): a query that keeps
    // compiling in the warm passes is missing the generated-code cache.
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val coldCompiles = collection.mutable.Map[String, Long]()
    val cold = selected.map { case (name, fn) =>
      val c0 = compiles
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case _: Throwable => false }
      coldCompiles(name) = compiles - c0
      name -> (if (ok)
        math.round((System.nanoTime() - t0) / 1e9 * 1000).toDouble / 1000
      else -1.0)
    }
    // Queries may persist() shared sub-results internally; clear between
    // runs so no query is timed against another run's (or the warmup's)
    // cache, and cache memory stays bounded.
    spark.catalog.clearCache()
    // Per-query task metrics via a listener, read (and reset) around EVERY
    // query in EVERY pass — the listener bus is drained before each read so
    // async delivery can't smear one query's metrics into the next. Three
    // counters, by what they diagnose:
    //   - shuffle-write bytes: move only with the PLAN — a timing
    //     regression whose bytes are unchanged is self-diagnosed as
    //     measurement noise, not a plan change (the round-7 false alarm).
    //   - executorCpuTime: moves with the WORK — host contention inflates
    //     wall time (a busy neighbor steals the core between our slices)
    //     but barely moves CPU time, so a regression that shows in wall
    //     but not CPU is the host, and one that shows in CPU is the code.
    //   - executorRunTime: task wall time — the CPU/run ratio is a direct
    //     per-query contention gauge (≈1 quiet, drops under pressure).
    // Reading per pass (not accumulating across passes) is also what keeps
    // the counters meaningful after pass 1 — the round-8 form left the
    // listener attached and inFlight accumulating through passes 2-3.
    val inFlight = new AtomicLong(0)
    val cpuNanos = new AtomicLong(0)
    val runMillis = new AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          inFlight.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          cpuNanos.addAndGet(m.executorCpuTime)
          runMillis.addAndGet(m.executorRunTime)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // A failed query records -1 — a thrown regression must never read as
    // a (faster) success in the benchmark JSON. Each query is timed THREE
    // times and the minimum reported: single-shot wall times on a shared
    // host carry multi-second contention spikes (measured: an identical
    // 84-query total swinging 39 s ↔ 72 s run-to-run). The three repeats
    // run as three INTERLEAVED full-suite passes, not back-to-back: a
    // minutes-long contention window then inflates at most ONE repeat of
    // any query instead of all three of an alphabetical block (the
    // round-7 contamination shape — indices 34-42 all 2-8× slow, min-of-3
    // powerless because the window covered every repeat). The per-query
    // SPREAD (max−min across passes) is recorded alongside, so a noisy
    // reading is visibly noisy instead of masquerading as a regression.
    val passes = 3
    val times = collection.mutable.Map[String, Vector[Double]]()
    val shuffleBytes = collection.mutable.Map[String, Long]()
    val cpuSecs = collection.mutable.Map[String, Vector[Double]]()
    val runSecs = collection.mutable.Map[String, Vector[Double]]()
    val warmCompiles = collection.mutable.Map[String, Long]()
    for (pass <- 1 to passes; (name, fn) <- selected) {
      ListenerBridge.drain(spark.sparkContext)
      inFlight.set(0); cpuNanos.set(0); runMillis.set(0)
      val c0 = compiles
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case _: Throwable => false }
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      warmCompiles(name) =
        math.min(warmCompiles.getOrElse(name, Long.MaxValue), compiles - c0)
      times(name) = times.getOrElse(name, Vector.empty) :+ dt
      ListenerBridge.drain(spark.sparkContext)
      if (pass == 1) shuffleBytes(name) = inFlight.get()
      cpuSecs(name) = cpuSecs.getOrElse(name, Vector.empty) :+
        (if (ok) cpuNanos.get() / 1e9 else -1.0)
      runSecs(name) = runSecs.getOrElse(name, Vector.empty) :+
        (if (ok) runMillis.get() / 1e3 else -1.0)
      spark.catalog.clearCache()
    }
    spark.sparkContext.removeSparkListener(listener)
    val timed = selected.map { case (name, _) =>
      val ts = times(name)
      val failed = ts.exists(_ < 0)
      (name,
       if (failed) -1.0 else ts.min,
       if (failed) -1.0 else ts.max - ts.min)
    }
    val results = timed.map { case (n, min, _) => n -> min }
    val spreads = timed.map { case (n, _, sp) => n -> sp }
    // min across passes, like wall time: the lowest reading is the one
    // least disturbed by neighbors (CPU time moves far less than wall
    // under contention, but a busy host still adds some scheduler and
    // cache-thrash cost to the tasks themselves).
    def minOf(m: collection.Map[String, Vector[Double]]) =
      selected.map { case (n, _) =>
        val vs = m(n)
        // half-away-from-zero to 3 dp — the codebase's rounding doctrine
        // (math.rint's half-even would present 0.0125 as 0.012 where
        // every operator/oracle rounds it 0.013; presentational only,
        // these fields are never oracle-compared)
        n -> (if (vs.exists(_ < 0)) -1.0
              else math.round(vs.min * 1000).toDouble / 1000)
      }
    val cpu = minOf(cpuSecs)
    val taskRun = minOf(runSecs)
    val total = results.map(_._2).filter(_ >= 0).sum
    def asJson(rs: Iterable[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def asJsonL(rs: Iterable[(String, Long)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // The driver parses only the LAST ~2000 chars of stdout; the full
    // per-query map is ~7 KB, so a single line carrying it starts mid-JSON
    // in the captured tail and has never parsed (BENCH_r01–r04 all
    // `parsed: null`). Emit a compact final line — total plus the slowest
    // 10 queries, comfortably under the tail window — and write the
    // complete per-query map to BENCH_DETAIL.json next to the build.
    val sortedBytes = selected.map { case (n, _) => n -> shuffleBytes.getOrElse(n, 0L) }
    def bySelected(m: collection.Map[String, Long]) =
      selected.map { case (n, _) => n -> m(n) }
    val detail = java.nio.file.Paths.get("BENCH_DETAIL.json")
    java.nio.file.Files.write(detail,
      (s"""{"metric":"total","value":$total,"unit":"sec",""" +
       s""""queries":${asJson(results)},"spread":${asJson(spreads)},""" +
       s""""cold":${asJson(cold)},""" +
       s""""shuffle_bytes":${asJsonL(sortedBytes)},""" +
       s""""cpu":${asJson(cpu)},"task_run":${asJson(taskRun)},""" +
       s""""codegen_compiles":{"cold":${asJsonL(bySelected(coldCompiles))},""" +
       s""""warm_min":${asJsonL(bySelected(warmCompiles))}},""" +
       s""""passes":$passes,"interleaved":true,""" +
       s""""sf":"$sfDir"}""" + "\n")
        .getBytes("UTF-8"))
    // Append this run to BENCH_HISTORY.json so the round-over-round series
    // can no longer drift by forgotten manual bookkeeping (r05/r06 and r07
    // each went stale that way). Only a FULL-suite run at the driver's
    // bench scale factor is history-worthy — a SPARK_GRAFT_ONLY slice or an
    // sf0.01 iteration run would poison the comparison series. The round
    // label comes from SPARK_GRAFT_ROUND if set, else max(BENCH_rNN.json)+1
    // (the driver writes BENCH_rNN.json AFTER the bench run, so during
    // round N the max on disk is N−1); re-runs within the WORK session of a
    // round overwrite the same key. The one ambiguous window is a manual
    // re-run right after the driver wrote BENCH_rNN.json (max+1 would then
    // mislabel the still-current round's re-run as the next round) —
    // updateHistory detects that window by the newest BENCH file's mtime
    // and skips the append with a loud message instead of guessing.
    if (only.isEmpty && sfDir.endsWith("sf0.1")) {
      try updateHistory(results, spreads, sortedBytes, cpu, taskRun, cold,
        total)
      catch { case e: Throwable =>
        System.err.println(s"BENCH_HISTORY update failed (non-fatal): $e") }
    }
    val slowest = results.toSeq.sortBy(-_._2).take(10)
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${asJson(slowest)},"n":${results.size},"sf":"$sfDir","detail":"BENCH_DETAIL.json"}""")
    spark.stop()
  }

  /** Round label for the history append. SPARK_GRAFT_ROUND wins when
    * set. Otherwise max(BENCH_rNN.json)+1 — sound because the driver
    * writes BENCH_rNN.json only AFTER round N's bench, so during round
    * N's work the max on disk is N−1. The one ambiguous window is a run
    * right after the driver closed a round (newest BENCH file <30 min
    * old): max+1 would file a still-current-round re-run under the NEXT
    * round. Disambiguate by WORK, not just time (the round-9 ADVICE —
    * a pure mtime guard also silently skipped the legitimate first run
    * of a round started within the window): a git commit NEWER than the
    * newest BENCH file means new round work exists and max+1 is the
    * right label; no newer commit means nothing changed since the close
    * — refuse to guess and say how to force a label. Throws (caught
    * non-fatally by the caller) on refusal. */
  private[graft] def inferRound(envRound: Option[String],
      benchFiles: Seq[(Int, Long)], lastCommitMillis: Option[Long],
      nowMillis: Long): String =
    // normalize the env label to the history's rNN form: "10", "r10"
    // and "r1" all mean r10/r01 — a bare-number export otherwise files
    // the run under a stray key next to the real round's record
    envRound.map { raw =>
      // only positive rounds normalize — "0" / "-1" would otherwise mint
      // stray keys "r00" / "r-1" that sort outside the rNN series
      raw.trim.stripPrefix("r").stripPrefix("R").toIntOption
        .filter(_ > 0).map(n => f"r$n%02d").getOrElse(raw)
    }.getOrElse {
      val newestMtime = benchFiles.map(_._2).maxOption.getOrElse(0L)
      val inWindow = nowMillis - newestMtime <= 30 * 60 * 1000L
      val newWork = lastCommitMillis.exists(_ > newestMtime)
      require(!inWindow || newWork,
        "newest BENCH_rNN.json is <30min old with no git commit since — " +
          "round inference is ambiguous; set SPARK_GRAFT_ROUND=rNN to " +
          "record this run")
      val maxN = benchFiles.map(_._1).maxOption.getOrElse(0)
      f"r${maxN + 1}%02d"
    }

  /** Newest commit's time in millis (None outside a git checkout or if
    * git is unavailable) — the "has round work started" signal. */
  private def lastCommitMillis: Option[Long] =
    try {
      val p = new ProcessBuilder("git", "log", "-1", "--format=%ct").start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
      if (p.waitFor() == 0) out.toLongOption.map(_ * 1000L) else None
    } catch { case _: Exception => None }

  private def updateHistory(
      results: Seq[(String, Double)],
      spreads: Seq[(String, Double)],
      bytes: Seq[(String, Long)],
      cpu: Seq[(String, Double)],
      taskRun: Seq[(String, Double)],
      cold: Seq[(String, Double)],
      total: Double): Unit = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    val mapper = new ObjectMapper()
    val file = new java.io.File("BENCH_HISTORY.json")
    val root: ObjectNode =
      if (file.exists()) mapper.readTree(file) match {
        case o: ObjectNode => o
        case _ => mapper.createObjectNode()
      } else mapper.createObjectNode()
    val rx = "BENCH_r([0-9]+)\\.json".r
    val benchFiles = Option(new java.io.File(".").listFiles())
      .getOrElse(Array.empty).toSeq
      .flatMap(f => rx.findFirstMatchIn(f.getName).map(m =>
        (m.group(1).toInt, f.lastModified())))
    val round = inferRound(sys.env.get("SPARK_GRAFT_ROUND"), benchFiles,
      lastCommitMillis, System.currentTimeMillis())
    def sub(name: String): ObjectNode = root.get(name) match {
      case o: ObjectNode => o
      case _ => val o = mapper.createObjectNode(); root.set(name, o); o
    }
    def node(rs: Seq[(String, Double)]): ObjectNode = {
      val n = mapper.createObjectNode()
      rs.foreach { case (k, v) => n.put(k, v) }
      n
    }
    val timesNode = node(results)
    val bytesNode = mapper.createObjectNode()
    bytes.foreach { case (k, v) => bytesNode.put(k, v) }
    root.set(round, timesNode)
    sub("spread").set(round, node(spreads))
    sub("shuffle_bytes").set(round, bytesNode)
    sub("cpu").set(round, node(cpu))
    sub("task_run").set(round, node(taskRun))
    sub("cold").set(round, node(cold))
    sub("totals").put(round, total)
    root.set("detail_latest", timesNode.deepCopy[ObjectNode]())
    mapper.writerWithDefaultPrettyPrinter().writeValue(file, root)
  }
}
