package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a benchmark call into a layer. Times are
  * `System.nanoTime`; `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    start: Long, end: Long)

/** In-memory span recorder. Off by default: the untraced run pays one
  * volatile read per call. When on, the span name is also set as a
  * Spark local property, so every job the call submits (including jobs
  * from threads it spawns, which inherit local properties) is
  * attributed to the innermost benchmark span. */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def apply[T](name: String, op: Long)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val (label, opLabel) = (sc.getLocalProperty(Tracer.SpanKey),
        sc.getLocalProperty(Tracer.OpKey))
      sc.setLocalProperty(Tracer.SpanKey, name)
      sc.setLocalProperty(Tracer.OpKey, op.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, op, t0,
          System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanKey, label)
        sc.setLocalProperty(Tracer.OpKey, opLabel)
      }
    }

  /** Label the jobs of `body` (e.g. a stream's micro-batches, whose
    * thread is created inside `body`) without recording a span. */
  def label[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, name)
    try body finally sc.setLocalProperty(Tracer.SpanKey, prev)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

object Tracer {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"

  /** Self time per span name: each span's duration minus the part of
    * it covered by its direct children. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else if (e > curE) curE = e
    }
    if (open) total += curE - curS
    total
  }
}

/** Per-job, per-task, per-query-execution and per-micro-batch counters,
  * gathered by listeners the benchmark attaches itself. Only events
  * that arrive while `recording` is on are kept. */
final class Layers extends SparkListener with QueryExecutionListener {
  @volatile var recording = false

  final class Job(val id: Int, val start: Long, val label: String,
      val op: Long) { var end = -1L; var runMs = 0L }
  final class Agg {
    var tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill,
      outBytes = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      outBytes += m.outputMetrics.bytesWritten
    }
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val byLabel = mutable.HashMap.empty[String, Agg]
  val total = new Agg
  var stages = 0L
  var outputFiles = 0L
  var planningMs = 0L
  var executions = 0L

  val batches = mutable.ArrayBuffer.empty[Layers.Batch]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs(e.jobId) = new Job(e.jobId, e.time, prop(Tracer.SpanKey).getOrElse("-"),
        prop(Tracer.OpKey).map(_.toLong).getOrElse(-1L))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (stageJob.contains(e.stageInfo.stageId)) stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId).flatMap(jobs.get);
         m <- Option(e.taskMetrics)) {
      total.add(m)
      byLabel.getOrElseUpdate(job.label, new Agg).add(m)
      job.runMs += m.executorRunTime
    }
  }

  /** Written-file counts arrive as driver-side SQL metric updates. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerDriverAccumUpdates if recording =>
      val files = u.accumUpdates.collect {
        case (id, v) if Bus.accumName(id).contains("number of written files") => v
      }.sum
      synchronized { outputFiles += files }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = planned(qe)

  private def planned(qe: QueryExecution): Unit = if (recording) {
    val ms = qe.tracker.phases
      .collect { case (p, s) if Layers.PlanPhases(p) => s.durationMs }.sum
    synchronized { planningMs += ms; executions += 1 }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        Layers.this.synchronized { batches += Layers.Batch(p.id, p.batchId, p.numInputRows, d) }
      }
  }
}

object Layers {
  /** One micro-batch's progress report. */
  final case class Batch(query: java.util.UUID, batchId: Long, rows: Long,
      durations: Map[String, Long])

  val PlanPhases = Set("analysis", "optimization", "planning")
}
