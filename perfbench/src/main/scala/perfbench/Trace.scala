package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is 0 for a lane's root span;
  * spans of one request share `req`.
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    thread: Long, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder for the traced run. Each span also labels
  * the Spark jobs started inside it: the span id rides the job-local
  * property [[Tracer.SpanProp]], which Spark copies into threads the
  * engine starts (e.g. `Par` pools), so jobs are credited to the
  * innermost enclosing benchmark span.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  // inheritable: threads the engine starts inside a span (a streaming
  // query's micro-batch thread) nest their spans under it
  private val stack = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  def span[T](name: String, req: Long = 0L)(body: => T): T =
    if (!on) body else {
      val outer = stack.get
      val id = ids.getAndIncrement()
      val r = if (req != 0L) req else outer.headOption.fold(0L)(_.req)
      val open = Span(id, outer.headOption.fold(0L)(_.id), r, name,
        Thread.currentThread().getId, System.nanoTime(), 0L)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      stack.set(open :: outer)
      try body
      finally {
        val end = System.nanoTime()
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
        done.add(open.copy(end = end))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Self time per span: its duration minus the part of its interval
    * covered by its children (overlapping children count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = covers(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Length of the union of half-open intervals. */
  def covers(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (lo, hi) =>
      if (lo > curHi) {
        if (curHi > curLo) total += curHi - curLo
        curLo = lo; curHi = hi
      } else if (hi > curHi) curHi = hi
    }
    if (curHi > curLo) total += curHi - curLo
    total
  }

  /** Share of the measured lanes' wall time [t0, t1] that their layer
    * spans account for. A lane is a thread's root span, named in
    * `lanes`; its covered time is the union of its children clipped to
    * [t0, t1], which for nested spans is the self time of every span
    * below the root. Time a lane spends outside all of them (loop
    * bookkeeping, idling after its last operation), and a lane that
    * recorded no root span, lower the share.
    */
  def coverage(spans: Seq[Span], lanes: Set[String], t0: Long, t1: Long): Double = {
    val roots = spans.filter(s => s.parent == 0L && lanes(s.name))
    if (lanes.isEmpty || t1 <= t0) 0.0
    else {
      val kids = spans.groupBy(_.parent)
      roots.map { r =>
        covers(kids.getOrElse(r.id, Nil)
          .map(c => (math.max(c.start, t0), math.min(c.end, t1))))
      }.sum.toDouble / (lanes.size * (t1 - t0))
    }
  }
}

/** Engine counters from the listener bus, plus job counts per span
  * (jobs carrying [[Tracer.SpanProp]]).
  * Read through [[snapshot]] after [[drain]], so no event is still
  * queued when a phase is closed.
  */
final class SparkStats extends SparkListener {
  val jobs, labelledJobs, stages, tasks, jobMs, cpuNs, gcMs, deserMs, inBytes,
    shuffleBytes, spillBytes, outBytes = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  val jobsPerSpan = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .foreach { id =>
        labelledJobs.incrementAndGet()
        jobsPerSpan.computeIfAbsent(id.toLong, _ => new AtomicLong).incrementAndGet()
      }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach { t0 =>
      jobMs.addAndGet(e.time - t0)
      intervals.add((t0, e.time))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      deserMs.addAndGet(m.executorDeserializeTime)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      outBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Wall milliseconds in [t0, t1] during which no job ran. */
  def idleMs(t0: Long, t1: Long): Long =
    (t1 - t0) - Tracer.covers(intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) })

  def snapshot: Map[String, Double] = Map(
    "spark.jobs" -> jobs, "trace.labelled_jobs" -> labelledJobs,
    "spark.stages" -> stages, "spark.tasks" -> tasks,
    "spark.job_ms" -> jobMs, "spark.gc_ms" -> gcMs,
    "spark.task_deserialize_ms" -> deserMs, "spark.input_bytes" -> inBytes,
    "spark.shuffle_bytes" -> shuffleBytes, "spark.spill_bytes" -> spillBytes,
    "spark.output_bytes" -> outBytes).map { case (k, v) => k -> v.get.toDouble } +
    ("spark.executor_cpu_ms" -> cpuNs.get / 1e6)
}

object SparkStats {
  def drain(sc: SparkContext): Unit =
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
}

/** Catalyst phase times of every executed query, from the
  * QueryPlanningTracker each QueryExecution carries.
  */
final class PlanStats extends QueryExecutionListener {
  private val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      phaseMs.computeIfAbsent(phase, _ => new AtomicLong)
        .addAndGet(s.durationMs)
    }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def snapshot: Map[String, Double] =
    Seq("analysis", "optimization", "planning").map { p =>
      s"plans.${p}_ms" -> Option(phaseMs.get(p)).fold(0.0)(_.get.toDouble)
    }.toMap
}
