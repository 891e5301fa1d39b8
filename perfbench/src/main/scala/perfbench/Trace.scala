package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with nanosecond resolution, aligned
  * with the millisecond clock Spark stamps its listener events with. */
object Clock {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

/** One interval of a traced run. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Double, end: Double, run: String) {
  def dur: Double = end - start
}

/**
 * Span recorder for traced runs. Spans are opened around every call the
 * benchmark makes into a layer; Spark jobs and stages arrive from
 * [[SparkCounters]] and hang under the span that was open on the driver
 * when the job was submitted (carried as a Spark local property). Nothing
 * is written until the run ends. With `enabled = false` every method runs
 * its body and records nothing.
 */
final class Tracer(spark: SparkSession, val runId: String) {
  val sc: SparkContext = spark.sparkContext
  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0)
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var current = 0L
  val counters = new SparkCounters
  val progress = new ProgressLog

  def nextId(): Long = ids.incrementAndGet()

  /** Id of the innermost open span, 0 outside any span. */
  def currentSpan: Long = current

  /** Starts recording and attaches the Spark and streaming listeners. */
  def start(): Unit = if (!enabled) {
    sc.addSparkListener(counters)
    spark.streams.addListener(progress)
    enabled = true
  }

  /** Stops recording and detaches the Spark listener once every job it saw
    * has reported its end. */
  def stop(): Unit = if (enabled) {
    counters.awaitQuiet(10000)
    sc.removeSparkListener(counters)
    spark.streams.removeListener(progress)
    enabled = false
    sc.setLocalProperty(SparkCounters.SpanProperty, null)
  }

  def record(s: Span): Unit = synchronized { recorded += s }

  /** Runs `body` inside a span named `name` of layer `layer`. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body else {
      val id = nextId()
      val parent = current
      current = id
      sc.setLocalProperty(SparkCounters.SpanProperty, id.toString)
      val t0 = Clock.nowMs()
      try body
      finally {
        record(Span(id, parent, name, layer, t0, Clock.nowMs(), runId))
        current = parent
        sc.setLocalProperty(SparkCounters.SpanProperty,
          if (parent == 0) null else parent.toString)
      }
    }

  /** Driver spans plus the job and stage spans the listener collected. */
  def allSpans(): Seq[Span] = {
    val driver = synchronized(recorded.toVector)
    driver ++ counters.sparkSpans(runId, () => nextId())
  }
}

object Trace {
  /** Self time of each span: its duration minus the part of its interval
    * covered by its children. Summed per layer, in milliseconds. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.layer) { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }
      math.max(0.0, s.dur - unionLength(kids))
    }(_ + _)
  }

  /** Total length of the union of the given intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def toJson(s: Span): String =
    f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      f""""layer":"${s.layer}","start":${s.start}%.3f,"end":${s.end}%.3f,""" +
      f""""run":"${s.run}"}"""
}

/** Aggregated task metrics of one completed stage attempt. */
final case class StageRec(stageId: Int, jobId: Int, name: String,
    submit: Long, complete: Long, tasks: Int, cpuMs: Double, runMs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long) {
  def dur: Long = complete - submit
}

final class JobRec(val jobId: Int, val span: Long, val start: Long,
    val stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}

object SparkCounters {
  /** Local property carrying the id of the driver span that submits a job. */
  val SpanProperty = "perfbench.span"
}

/** Job and stage counts collected on Spark's listener bus. Stage metrics
  * are the per-stage aggregates Spark attaches at stage completion. */
final class SparkCounters extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkCounters.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks, m.executorCpuTime / 1e6, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Waits until every job seen so far has reported its end. */
  def awaitQuiet(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.values.exists(_.end < 0))
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def jobList: Seq[JobRec] = synchronized(jobs.values.toVector)
  def stageList: Seq[StageRec] = synchronized(stages.toVector)

  /** Job and stage spans: a job hangs under its submitting driver span, a
    * stage under its job. */
  def sparkSpans(run: String, newId: () => Long): Seq[Span] = {
    val js = jobList.filter(_.end >= 0)
    val jobSpanId = js.map(j => j.jobId -> newId()).toMap
    js.map(j => Span(jobSpanId(j.jobId), j.span, s"job ${j.jobId}", "spark",
      j.start.toDouble, j.end.toDouble, run)) ++
      stageList.filter(s => jobSpanId.contains(s.jobId)).map(s =>
        Span(newId(), jobSpanId(s.jobId), s"stage ${s.stageId}", "spark",
          s.submit.toDouble, s.complete.toDouble, run))
  }
}

/** Streaming progress collected on the listener bus, in arrival order. */
final class ProgressLog extends StreamingQueryListener {
  private val events = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { events += e }
  def progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized(events.map(_.progress).toVector)
}
