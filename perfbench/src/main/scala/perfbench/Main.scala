package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** One benchmark run in one JVM: build the session, run the untimed
  * warm-up passes, then a closed loop of ops (one client; the next op starts
  * when the previous one returns) until `seconds` have passed and the
  * current pass is complete. Prints a summary and, as the last stdout
  * line, the result JSON.
  *
  * With `trace` the timed region is split in two halves: the first runs
  * untraced and gives the reference latency for `trace.overhead`, the
  * second runs with the tracer attached and gives the per-layer metrics.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, plan: String, expected: String, data: String,
      work: String, out: String)

  /** What one op did: its wall time, the rows its results held, and every
    * failure it met, as "what: exception class: message". */
  final case class Result(id: Long, what: String, seconds: Double,
                          rows: Long, failures: Seq[String])

  final class Mismatch(msg: String) extends Exception(msg)

  /** The steps an op runs. Untraced, a step just runs; traced, it is a
    * span under the op's root span. */
  final class Ctx(tracer: Option[Tracer], val id: Long, root: Long) {
    val failures = mutable.ArrayBuffer[String]()
    var rows = 0L
    def step[T](name: String, what: String)(f: => T): T =
      tracer.fold(f)(_.span(id, root, name, what)(_ => f))
    /** Run `f`, recording instead of raising any failure. */
    def attempt(what: String)(f: => Unit): Unit =
      try f catch { case e: Throwable =>
        failures += s"$what: ${e.getClass.getName}: ${e.getMessage}".take(500)
      }
  }

  final case class Op(what: String, run: Ctx => Unit)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val calibBefore = Host.calib()
    val t0 = System.nanoTime()
    val spark = GraftSession
      .builder(s"local[${a.cores}]", shufflePartitions = Some(a.cores))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    try run(spark, a, jvmStart, calibBefore, sessionStart)
    finally spark.stop()
  }

  private def run(spark: SparkSession, a: Args, jvmStart: Long,
                  calibBefore: Double, sessionStart: Double): Unit = {
    val plan = Plan.load(a.plan)
    plan.validate(SparkEntry.queries.keySet)
    val expected = Expected.load(a.expected)
    val twins = plan.twins.toSet
    val Workload.Passes(warmup, passes) = Workload(spark, a, plan, expected)

    var nextId = 0L
    val results = mutable.ArrayBuffer[Result]()
    def runOp(op: Op, tracer: Option[Tracer]): Result = {
      nextId += 1
      val id = nextId
      def body(root: Long) = {
        val c = new Ctx(tracer, id, root)
        c.attempt(op.what)(op.run(c))
        c
      }
      val t0 = System.nanoTime()
      val c = tracer.fold(body(0))(_.span(id, 0, "op", op.what)(body))
      val r = Result(id, op.what, (System.nanoTime() - t0) / 1e9, c.rows, c.failures.toSeq)
      spark.catalog.clearCache()
      results += r
      r
    }
    /** Whole passes until at least `secs` have passed. */
    def loop(firstPass: Int, secs: Double, tracer: Option[Tracer]): (Seq[Result], Double, Int) = {
      val t0 = System.nanoTime()
      var pass = firstPass
      val rs = mutable.ArrayBuffer[Result]()
      while ((System.nanoTime() - t0) / 1e9 < secs) {
        passes(pass).foreach(op => rs += runOp(op, tracer))
        pass += 1
      }
      (rs.toSeq, (System.nanoTime() - t0) / 1e9, pass)
    }

    val warm = (0 until warmup).flatMap(passes(_).map(op => runOp(op, None)))
    val setup = (System.currentTimeMillis() - jvmStart) / 1000.0
    println(f"warm-up: session $sessionStart%.2f s, ${warm.size} ops in " +
      f"${warm.map(_.seconds).sum}%.2f s; slowest: " +
      warm.sortBy(-_.seconds).take(5).map(r => f"${r.what} ${r.seconds}%.2f").mkString(", "))

    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcSeconds = gcBeans.map(_.getCollectionTime).sum / 1000.0
    // The timed ops are each query's second or third call in a fresh JVM,
    // still on the JIT's warm-up curve: the compiler's time is reported
    // beside the metrics it inflates.
    val compiler = ManagementFactory.getCompilationMXBean
    def jitSeconds = compiler.getTotalCompilationTime / 1000.0
    // A refresh run times only two or three cycles, so its centre is their
    // mean: a median would be the faster of two cycles in a slow run and
    // the middle of three in a fast one.
    val centre: Seq[Double] => Double =
      if (a.workload == "refresh") Stats.mean else Stats.median

    val cpu0 = cpu.getProcessCpuTime
    val jit0 = jitSeconds
    val (timed, wall, nextPass) =
      loop(warmup, if (a.trace) a.seconds / 2.0 else a.seconds, None)
    val cpuPerOp = (cpu.getProcessCpuTime - cpu0) / 1e9 / timed.size
    val jitPerOp = (jitSeconds - jit0) / timed.size
    val p50 = centre(timed.map(_.seconds))

    // Traced only: cache behaviour that breaks the workload's premise.
    var cacheFailures = Seq.empty[String]
    val layers: Map[String, Double] = if (!a.trace) Map.empty else {
      val tracer = new Tracer(spark)
      tracer.attach()
      val gc0 = gcSeconds
      val jit0 = jitSeconds
      val (traced, _, _) = loop(nextPass, a.seconds / 2.0, Some(tracer))
      val gc = (gcSeconds - gc0) / traced.size
      val jit = (jitSeconds - jit0) / traced.size
      tracer.finish()
      val layerBytes = if (a.workload == "refresh")
        Seq("raw_revenue", "raw_qty", "cleaned").map(l => Disk.bytes(Paths.get(a.work, l))).sum
      else 0L
      cacheFailures =
        if (a.workload == "refresh") Layers.staleHits(tracer, twins)
            .map(s => s"refresh: cached build on fresh inputs: $s")
        else Layers.restages(tracer, twins).map(s => s"warm workload re-staged: $s")
      writeSpans(a.out, tracer)
      Layers.compute(tracer, traced.map(r => Layers.Op(r.id, r.rows)), a.cores,
                     twins, layerBytes) ++ Map(
        "session.start_s" -> sessionStart,
        "staging.disk_bytes" -> Disk.staged().toDouble,
        "driver.gc_s" -> gc,
        "driver.jit_s" -> jit,
        "trace.overhead" -> centre(traced.map(_.seconds)) / p50)
    }

    // Spark releases shuffle and broadcast data asynchronously after an
    // op, so the first full GCs can still see it; the fourth reads steady.
    spark.catalog.clearCache()
    val heapMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val calibAfter = Host.calib()

    val failed = results.filter(_.failures.nonEmpty)
    failed.foreach(r => r.failures.foreach(f => println(s"FAILED op ${r.id}: $f")))
    cacheFailures.foreach(f => println(s"FAILED $f"))
    val n = timed.size
    val tail = Stats.tailPercentile(n)
    println(f"${a.workload} seed ${a.seed}: $n timed ops in $wall%.2f s; " +
      f"host.calib_s before $calibBefore%.4f after $calibAfter%.4f; " +
      f"JIT compiling $jitPerOp%.3f s per op; " +
      f"error_rate ${timed.count(_.failures.nonEmpty).toDouble / n}%.4f; " +
      tail.fold("no percentile has 10 samples beyond it")(p =>
        f"tail p$p = ${Stats.percentile(timed.map(_.seconds), p)}%.4f s"))

    println("timed ops: " + timed.groupBy(_.what).toSeq.sortBy(_._1).map { case (q, rs) =>
      f"$q ${Stats.median(rs.map(_.seconds))}%.3f" }.mkString(", "))
    val values = if (!a.trace) Map(
      "setup_s" -> setup, "op_p50_s" -> p50, "ops_per_s" -> n / wall,
      "cpu_s_per_op" -> cpuPerOp, "heap_live_mb" -> heapMb)
    else layers + ("host.calib_s" -> (calibBefore + calibAfter) / 2)
    val om = new ObjectMapper()
    val out = om.createObjectNode()
    out.put("correct", failed.isEmpty && cacheFailures.isEmpty)
    out.put("attempted", results.size)
    out.put("failed", failed.size)
    val m = out.putObject("metrics")
    (if (a.trace) Metrics.perLayer else Metrics.endToEnd).foreach { case (k, u) =>
      m.putObject(k).put("value", values(k)).put("unit", u)
    }
    println(om.writeValueAsString(out))
  }

  private def writeSpans(path: String, t: Tracer): Unit = {
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    val spans = root.putArray("spans")
    val jobs = root.putArray("jobs")
    t.synchronized {
      t.spans.foreach { s =>
        spans.addObject().put("id", s.id).put("parent", s.parent).put("op", s.op)
          .put("name", s.name).put("what", s.what)
          .put("start_us", s.start).put("end_us", s.end)
      }
      t.jobs.foreach { case (id, j) =>
        jobs.addObject().put("id", id).put("span", j.tag.span).put("step", j.tag.step)
          .put("site", j.site).put("sql", j.sql)
          .put("start_us", j.start).put("end_us", j.end)
      }
    }
    Files.writeString(Paths.get(path), om.writeValueAsString(root))
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
         kv("trace") == "1", kv("cores").toInt, kv("plan"), kv("expected"),
         kv("data"), kv("work"), kv("out"))
  }
}

/** The metric names and units this benchmark reports. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "ops_per_s" -> "1/s", "cpu_s_per_op" -> "s", "heap_live_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "session.start_s" -> "s",
    "ops.build_s" -> "s", "ops.build_jobs" -> "count",
    "ops.build_write_bytes" -> "bytes", "ops.build_hit_ratio" -> "ratio",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.sched_delay_s" -> "s", "exec.no_job_s" -> "s",
    "exec.task_cpu_s" -> "s", "exec.task_run_s" -> "s", "exec.task_gc_s" -> "s",
    "exec.core_util" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_bytes" -> "bytes",
    "scan.bytes" -> "bytes", "scan.rows" -> "count", "scan.rows_per_result_row" -> "ratio",
    "streaming.batches" -> "count", "streaming.batch_s" -> "s",
    "streaming.plan_s" -> "s", "streaming.offset_s" -> "s",
    "streaming.commit_s" -> "s", "streaming.lifecycle_s" -> "s",
    "pipeline.ingest_s" -> "s", "pipeline.transform_s" -> "s",
    "pipeline.write_bytes" -> "bytes", "pipeline.write_amp" -> "ratio",
    "staging.disk_bytes" -> "bytes", "driver.gc_s" -> "s", "driver.jit_s" -> "s",
    "host.calib_s" -> "s", "trace.overhead" -> "ratio")
}

object Host {
  @volatile private var sink = 0L

  /** Seconds one core takes for a fixed amount of integer work: read
    * before and after a run, it shows host drift next to the numbers it
    * would distort. */
  def calib(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x; i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e9
  }
}

object Disk {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Bytes of the engine's staged layers still on disk. */
  def staged(): Long = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(tmp)
    try s.iterator.asScala
      .filter(_.getFileName.toString.startsWith("graft-staged")).map(bytes).sum
    finally s.close()
  }
}
