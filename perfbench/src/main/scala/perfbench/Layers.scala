package perfbench

/** Per-layer metrics of the traced segment, from the tracer's spans and
  * listener records. Counts, bytes and times are means per op; ratios are
  * taken over the whole segment. The streaming figures are means per
  * streaming-twin build, since the other ops run no micro-batch.
  *
  * A build is a cache hit when it runs no Dataset action. Jobs outside any
  * SQL execution do not count against it: they are the parquet reader's
  * schema inference, one footer-reading task per table a build opens,
  * which every build pays (and `ops.build_jobs` counts). */
object Layers {

  /** One traced op: its id and the rows its results held. */
  final case class Op(id: Long, resultRows: Long)

  def compute(t: Tracer, ops: Seq[Op], cores: Int, twins: Set[String],
              layerBytes: Long): Map[String, Double] = t.synchronized {
    val ids = ops.map(_.id).toSet
    val n = math.max(1, ops.size).toDouble
    val spans = t.spans.filter(s => ids(s.op))
    val opSpans = spans.filter(_.name == "op")
    def named(name: String) = spans.filter(_.name == name)
    def micros(ss: Iterable[Span]) = ss.iterator.map(s => s.end - s.start).sum
    val jobs = t.jobs.values.filter(j => ids(j.tag.op) && j.end >= 0).toSeq
    val jobsByOp = jobs.groupBy(_.tag.op)
    val sqlSpans = jobs.filter(_.sql).map(_.tag.span).toSet
    val work = t.work.toSeq.filter { case (tag, _) => ids(tag.op) }
    def sumW(f: Tracer.Work => Long, steps: String => Boolean = _ => true) =
      work.iterator.collect { case (tag, w) if steps(tag.step) => f(w) }.sum.toDouble

    val builds = named("ops.build")
    val (twinBuilds, plainBuilds) = builds.partition(s => twins(s.what))
    val hits = plainBuilds.count(b => !sqlSpans(b.id))

    def inOp(start: Long) = opSpans.exists(s => start >= s.start && start < s.end)
    def planS(phase: String) = t.planPhases.iterator
      .collect { case (p, a, b) if p == phase && inOp(a) => b - a }.sum / 1e6

    val jobIvs = opSpans.map(s =>
      s -> jobsByOp.getOrElse(s.op, Nil).map(j => (j.start, j.end)))
    val jobActive = jobIvs.map { case (s, ivs) => Stats.covered(s.start, s.end, ivs) }.sum
    val noJob = jobIvs.map { case (s, ivs) => Stats.selfTime(s.start, s.end, ivs) }.sum

    val tb = math.max(1, twinBuilds.size).toDouble
    val batches = twinBuilds.map(s => s -> t.batches.filter(b => b._1 >= s.start && b._1 < s.end))
    def batchSum(f: ((Long, Long, Double, Double, Double)) => Double) =
      batches.iterator.flatMap(_._2).map(f).sum

    val pipelineSteps = Set("pipeline.ingest", "pipeline.transform")
    val pipelineWrite = sumW(_.outBytes, pipelineSteps) / n
    val resultRows = ops.map(_.resultRows).sum

    Map(
      "ops.build_s" -> micros(builds) / 1e6 / n,
      "ops.build_jobs" -> jobs.count(_.tag.step == "ops.build") / n,
      "ops.build_write_bytes" -> sumW(_.outBytes, _ == "ops.build") / n,
      "ops.build_hit_ratio" ->
        (if (plainBuilds.isEmpty) 0.0 else hits.toDouble / plainBuilds.size),
      "plan.analysis_s" -> planS("analysis") / n,
      "plan.optimization_s" -> planS("optimization") / n,
      "plan.planning_s" -> planS("planning") / n,
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> sumW(_.stages) / n,
      "exec.tasks" -> sumW(_.tasks) / n,
      "exec.sched_delay_s" -> sumW(_.schedMs) / 1e3 / n,
      "exec.no_job_s" -> noJob / 1e6 / n,
      "exec.task_cpu_s" -> sumW(_.cpuNs) / 1e9 / n,
      "exec.task_run_s" -> sumW(_.runMs) / 1e3 / n,
      "exec.task_gc_s" -> sumW(_.gcMs) / 1e3 / n,
      "exec.core_util" ->
        (if (jobActive == 0) 0.0 else sumW(_.runMs) * 1e3 / (jobActive.toDouble * cores)),
      "shuffle.write_bytes" -> sumW(_.shufW) / n,
      "shuffle.read_bytes" -> sumW(_.shufR) / n,
      "shuffle.fetch_wait_s" -> sumW(_.fetchWaitMs) / 1e3 / n,
      "shuffle.spill_bytes" -> sumW(_.spill) / n,
      "scan.bytes" -> sumW(_.inBytes) / n,
      "scan.rows" -> sumW(_.inRows) / n,
      "scan.rows_per_result_row" ->
        (if (resultRows == 0) 0.0 else sumW(_.inRows) / resultRows),
      "streaming.batches" -> batches.map(_._2.size).sum / tb,
      "streaming.batch_s" -> batchSum(b => (b._2 - b._1) / 1e6) / tb,
      "streaming.plan_s" -> batchSum(_._3) / tb,
      "streaming.offset_s" -> batchSum(_._4) / tb,
      "streaming.commit_s" -> batchSum(_._5) / tb,
      "streaming.lifecycle_s" -> batches.map { case (s, bs) =>
        Stats.selfTime(s.start, s.end, bs.map(b => (b._1, b._2))) }.sum / 1e6 / tb,
      "pipeline.ingest_s" -> micros(named("pipeline.ingest")) / 1e6 / n,
      "pipeline.transform_s" -> micros(named("pipeline.transform")) / 1e6 / n,
      "pipeline.write_bytes" -> pipelineWrite,
      "pipeline.write_amp" -> (if (layerBytes == 0) 0.0 else pipelineWrite / layerBytes))
  }

  /** Builds that wrote staged data although the op ran after setup; on a
    * warm workload every one of them is a re-stage. */
  def restages(t: Tracer, twins: Set[String]): Seq[String] = t.synchronized {
    val written = t.work.collect { case (tag, w) if w.outBytes > 0 => tag.span }.toSet
    t.spans.filter(s => s.name == "ops.build" && !twins(s.what) && written(s.id))
      .map(s => s"${s.what} (op ${s.op})").toSeq
  }

  /** Staged-consumer builds that ran no Dataset action: on refresh, where
    * every cycle brings fresh inputs, each of them is a stale cache hit. */
  def staleHits(t: Tracer, twins: Set[String]): Seq[String] = t.synchronized {
    val sqlSpans = t.jobs.values.filter(_.sql).map(_.tag.span).toSet
    t.spans.filter(s => s.name == "ops.build" && !twins(s.what) && !sqlSpans(s.id))
      .map(s => s"${s.what} (op ${s.op})").toSeq
  }
}
