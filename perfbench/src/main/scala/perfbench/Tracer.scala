package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch microseconds. `parent` is the id of the
  * span that caused it (0 for an op's root span); spans of one op share
  * `op`. `what` names the query or cycle the span works on. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      what: String, start: Long, end: Long)

/** The traced run's recorder. It instruments nothing inside the engine:
  * the benchmark opens spans around its own calls, and three listeners
  * report what Spark did underneath them.
  *
  *  - A `SparkListener` sees jobs, stages and tasks. Every job the
  *    benchmark causes carries local properties naming its op, step and
  *    span, so its work is charged to the span that launched it,
  *    including jobs a streaming twin runs on its own thread (local
  *    properties are inherited by threads the caller starts).
  *  - A `QueryExecutionListener` reports each action's planning phases,
  *    read from its `QueryExecution` tracker.
  *  - A `StreamingQueryListener` reports each micro-batch's duration split.
  *
  * The last two carry no local properties; ops run one at a time, so they
  * are charged to the op whose span holds their start time.
  *
  * Everything stays in memory until `finish`, which drains the listener
  * bus once.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private var nextId = 1L
  val spans = mutable.ArrayBuffer[Span]()

  /** Run `f` inside a new span; jobs it launches are tagged with it. */
  def span[T](op: Long, parent: Long, name: String, what: String)(f: Long => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val prev = (sc.getLocalProperty(StepKey), sc.getLocalProperty(SpanKey))
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(StepKey, name)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = nowMicros()
    try f(id)
    finally {
      val s = Span(id, parent, op, name, what, t0, nowMicros())
      synchronized(spans += s)
      sc.setLocalProperty(StepKey, prev._1)
      sc.setLocalProperty(SpanKey, prev._2)
    }
  }

  // ---- listener state (written on the listener-bus thread) ----
  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageTag = mutable.HashMap[Int, Tag]()
  /** Task work per tag. */
  val work = mutable.HashMap[Tag, Work]()
  /** (phase, start µs, end µs) per planned action. */
  val planPhases = mutable.ArrayBuffer[(String, Long, Long)]()
  /** (start µs, end µs, planning s, offset s, commit s) per micro-batch. */
  val batches = mutable.ArrayBuffer[(Long, Long, Double, Double, Double)]()

  private def tag(props: java.util.Properties): Option[Tag] =
    for {
      p <- Option(props)
      op <- Option(p.getProperty(OpKey))
      span <- Option(p.getProperty(SpanKey))
    } yield Tag(op.toLong, p.getProperty(StepKey), span.toLong)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      tag(e.properties).foreach { t => Tracer.this.synchronized {
        jobs(e.jobId) = Job(t, e.properties.getProperty("callSite.short"),
          e.properties.getProperty("spark.sql.execution.id") != null, e.time * 1000)
      } }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized(jobs.get(e.jobId).foreach(_.end = e.time * 1000))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      tag(e.properties).foreach { t => Tracer.this.synchronized {
        stageTag(e.stageInfo.stageId) = t
        work.getOrElseUpdate(t, new Work).stages += 1
      } }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized(stageTag.get(e.stageId)).foreach { t =>
        val m = e.taskMetrics
        val i = e.taskInfo
        Tracer.this.synchronized {
          val w = work.getOrElseUpdate(t, new Work)
          w.tasks += 1
          if (m != null) {
            w.cpuNs += m.executorCpuTime
            w.runMs += m.executorRunTime
            w.gcMs += m.jvmGCTime
            w.schedMs += math.max(0L, i.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
            w.shufW += m.shuffleWriteMetrics.bytesWritten
            w.shufR += m.shuffleReadMetrics.totalBytesRead
            w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            w.spill += m.diskBytesSpilled + m.memoryBytesSpilled
            w.inBytes += m.inputMetrics.bytesRead
            w.inRows += m.inputMetrics.recordsRead
            w.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.toSeq.map { case (n, s) =>
        (n, s.startTimeMs * 1000, s.endTimeMs * 1000) }
      Tracer.this.synchronized(planPhases ++= ps)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      def s(keys: String*) = keys.map(d.getOrElse(_, 0L)).sum / 1000.0
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      val end = start + d.getOrElse("triggerExecution", 0L) * 1000
      Tracer.this.synchronized(batches += ((start, end, s("queryPlanning"),
        s("latestOffset", "getOffset", "getBatch"),
        s("walCommit", "commitOffsets"))))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every queued event, then detach. */
  def finish(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    Seq(OpKey, StepKey, SpanKey).foreach(sc.setLocalProperty(_, null))
  }
}

object Tracer {
  /** Which op, step and span a job, stage or task belongs to. */
  final case class Tag(op: Long, step: String, span: Long)
  /** A job; `sql` when it runs a Dataset action rather than the file
    * reader's schema inference. */
  final case class Job(tag: Tag, site: String, sql: Boolean, start: Long,
                       var end: Long = -1L)
  final class Work {
    var stages, tasks = 0L
    var cpuNs, runMs, gcMs, schedMs = 0L
    var shufW, shufR, fetchWaitMs, spill = 0L
    var inBytes, inRows, outBytes = 0L
  }

  val OpKey = "perfbench.op"
  val StepKey = "perfbench.step"
  val SpanKey = "perfbench.span"

  private val epochOffsetMicros =
    System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowMicros(): Long = epochOffsetMicros + System.nanoTime() / 1000
}
