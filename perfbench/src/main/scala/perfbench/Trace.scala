package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for the root). Times are epoch nanoseconds. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startNs: Long, endNs: Long)

/** Executor-side work summed over the tasks of the jobs in one window. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputRecords = 0L
  var planMs = 0L
  /** (start, end) epoch ms of every job, for the driver idle time. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  /** Jobs submitted from `graft.operators.Components` (read from the stage
    * call site), and their summed durations. */
  var componentsJobs = 0L; var componentsMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputRecords += o.inputRecords
    planMs += o.planMs
    jobIntervals ++= o.jobIntervals
    componentsJobs += o.componentsJobs; componentsMs += o.componentsMs
  }

  /** Wall time of [t0Ms, t1Ms] not covered by any running job. */
  def idleMs(t0Ms: Long, t1Ms: Long): Long = {
    var covered = 0L; var end = t0Ms
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      val s1 = math.max(s, end); val e1 = math.min(e, t1Ms)
      if (e1 > s1) { covered += e1 - s1; end = e1 }
    }
    math.max(0L, (t1Ms - t0Ms) - covered)
  }
}

/** Listener state: the counters of the current window, the job and stage
  * spans, and the query executions seen. Registered only on traced runs. */
final class Trace(sc: SparkContext) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile private var cur = new Counters
  private val jobSpans = new ConcurrentLinkedQueue[Span]()
  private val jobParent = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, Boolean)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1000000)
  @volatile private var lastPlans: List[SparkPlan] = Nil

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(sc)

  /** Counters accumulated since the previous call. */
  def take(): Counters = { drain(); val c = cur; cur = new Counters; c }

  def spans: Seq[Span] = jobSpans.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val components = e.stageInfos.exists(_.details.contains("graft.operators.Components"))
    jobParent.put(e.jobId, (parent, e.time, components))
    e.stageInfos.foreach(s => stageJob.put(s.stageId, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (parent, start, components) = Option(jobParent.remove(e.jobId)).getOrElse((-1, e.time, false))
    val c = cur
    c.synchronized {
      c.jobs += 1
      c.jobIntervals += ((start, e.time))
      if (components) { c.componentsJobs += 1; c.componentsMs += e.time - start }
    }
    jobSpans.add(Span(jobId(e.jobId), parent, "job", s"job-${e.jobId}",
      start * 1000000L, e.time * 1000000L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val c = cur
    c.synchronized { c.stages += 1 }
    for (s <- si.submissionTime; t <- si.completionTime) {
      val job = Option(stageJob.get(si.stageId)).map(j => jobId(j)).getOrElse(-1)
      jobSpans.add(Span(nextId.incrementAndGet(), job, "stage", s"stage-${si.stageId}",
        s * 1000000L, t * 1000000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = cur
    c.synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = cur
    c.synchronized { c.planMs += qe.tracker.phases.values.map(_.durationMs).sum }
    lastPlans = qe.executedPlan :: lastPlans.take(15)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Job span ids live in their own range so they never clash with the
    * driver-side spans the [[Tracer]] numbers from 0. */
  private def jobId(j: Int): Int = 500000 + j

  /** Forgets the executions seen so far, once every pending event is in. */
  def resetPlans(): Unit = { drain(); lastPlans = Nil }

  /** All physical operators of the executions since [[resetPlans]], AQE
    * stages included. */
  def planNodes(): Seq[SparkPlan] = {
    drain()
    lastPlans.flatMap(p => collectWithSubqueries(p) { case n => n })
  }
}

/** Driver-side spans. Spans are kept in memory and written at the end. */
final class Tracer(sc: SparkContext) {
  private val buf = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = List(-1)
  private var next = 0
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now(): Long = System.nanoTime() + offsetNs

  def span[T](kind: String, name: String)(body: => T): T = {
    val id = next; next += 1
    val parent = stack.head
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = now()
    try body
    finally {
      buf += Span(id, parent, kind, name, t0, now())
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.head.toString)
    }
  }

  def spans: Seq[Span] = buf.toSeq
}

object Tracer {
  final val SpanKey = "perfbench.span"

  /** Self time per (kind, name): a span's duration minus the part of its
    * interval covered by its children. */
  def selfTimes(spans: Seq[Span]): Map[(String, String), Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(s => (s.kind, s.name)).map { case (k, ss) =>
      k -> ss.map { s =>
        var covered = 0L; var end = s.startNs
        kids.getOrElse(s.id, Nil).sortBy(_.startNs).foreach { c =>
          val a = math.max(c.startNs, end); val b = math.min(c.endNs, s.endNs)
          if (b > a) { covered += b - a; end = b }
        }
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def toJson(spans: Seq[Span]): String =
    spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]")
}
