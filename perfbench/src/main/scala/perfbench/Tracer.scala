package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work counted against one span. Times are milliseconds, sizes bytes. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs = 0.0
  var shuffleWrite, shuffleRead, spill, inputBytes, outputBytes, outputRows, files = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var batches = 0L
  var triggerMs, streamPlanningMs, commitMs = 0.0
  /** [start, end] of every job counted here, epoch milliseconds. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    outputRows += o.outputRows; files += o.files
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
    batches += o.batches; triggerMs += o.triggerMs
    streamPlanningMs += o.streamPlanningMs; commitMs += o.commitMs
    jobIntervals ++= o.jobIntervals
  }

  /** Per-layer names of these counters, as the benchmark reports them. */
  def fields: Seq[(String, Double)] = Seq(
    "catalyst.analysis_ms" -> analysisMs,
    "catalyst.optimization_ms" -> optimizationMs,
    "catalyst.planning_ms" -> planningMs,
    "sched.jobs" -> jobs.toDouble, "sched.stages" -> stages.toDouble,
    "sched.tasks" -> tasks.toDouble,
    "exec.run_ms" -> runMs, "exec.cpu_ms" -> cpuMs, "exec.gc_ms" -> gcMs,
    "shuffle.write_bytes" -> shuffleWrite.toDouble,
    "shuffle.read_bytes" -> shuffleRead.toDouble,
    "spill.bytes" -> spill.toDouble,
    "io.input_bytes" -> inputBytes.toDouble,
    "io.output_bytes" -> outputBytes.toDouble,
    "io.output_rows" -> outputRows.toDouble,
    "io.files_written" -> files.toDouble,
    "stream.batches" -> batches.toDouble, "stream.trigger_ms" -> triggerMs,
    "stream.planning_ms" -> streamPlanningMs, "stream.commit_ms" -> commitMs)
}

/** A timed interval around one call into the program. `op` is the id of the
  * operation the span belongs to (-1 outside any operation). */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val start: Double) {
  var end: Double = Double.NaN
  def ms: Double = end - start
  /** Counters of this span and all its descendants (filled by finish). */
  val total = new Counters
  var selfMs: Double = Double.NaN
  var gapMs: Double = Double.NaN
}

/** Records spans around the harness's calls into the program. Spans are
  * always kept (their durations are the benchmark's timings); with
  * `counting` on and between [[attach]] and [[detach]], a Spark listener, a streaming-query listener and each
  * execution's phase tracker also count work against the innermost open
  * span. Jobs find their span through a local property of the calling
  * thread, which threads started inside the span inherit; executions and
  * micro-batches are placed by their start time. Everything stays in memory
  * until [[finish]].
  */
final class Tracer(spark: SparkSession, val counting: Boolean) {
  private val Prop = "perfbench.span"
  private val nanos0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with sub-millisecond resolution. */
  def now: Double = epoch0 + (System.nanoTime() - nanos0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var nextOp = 0

  private val own = new ConcurrentHashMap[Int, Counters]()
  private def countersOf(span: Int): Counters = own.computeIfAbsent(span, _ => new Counters)
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Double)]()
  /** (start time, apply) for events placed by time once spans are closed. */
  private val timed = new ConcurrentLinkedQueue[(Double, Counters => Unit)]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      e.stageInfos.foreach(i => stageSpan.put(i.stageId, s))
      jobStart.put(e.jobId, (s, e.time.toDouble))
      countersOf(s).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, t) =>
        countersOf(s).jobIntervals += ((t, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      countersOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countersOf(stageSpan.getOrDefault(e.stageId, -1))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRows += m.outputMetrics.recordsWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Bridge.queryExecution(end).foreach { qe =>
          val start = Bridge.startMs(end)
          val files = Bridge.filesWritten(qe.executedPlan)
          val ph = phases(qe)
          timed.add((start, c => { addPhases(c, ph); c.files += files }))
        }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      timed.add((start, c => {
        c.batches += 1
        c.triggerMs += d.getOrElse("triggerExecution", 0.0)
        c.streamPlanningMs += d.getOrElse("queryPlanning", 0.0)
        c.commitMs += d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)
      }))
    }
  }

  /** Start counting (a no-op unless `counting`). */
  def attach(): Unit = if (counting) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Stop counting once every event posted so far has been delivered. */
  def detach(): Unit = if (counting) {
    Bridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Analysis, optimization and planning time recorded by an execution's
    * phase tracker. */
  def phases(qe: org.apache.spark.sql.execution.QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }

  private def addPhases(c: Counters, ph: Map[String, Double]): Unit = {
    c.analysisMs += ph.getOrElse("analysis", 0.0)
    c.optimizationMs += ph.getOrElse("optimization", 0.0)
    c.planningMs += ph.getOrElse("planning", 0.0)
  }

  /** Count phase timings of a Dataset the harness itself executed (its
    * execution posts no event) against the innermost open span. */
  def countPhases(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    if (counting) {
      val ph = phases(qe)
      open.headOption.foreach(s => addPhases(countersOf(s.id), ph))
    }

  /** Run `body` inside a span. `newOp` starts a new operation id. */
  def span[T](name: String, newOp: Boolean = false)(body: => T): (T, Span) = {
    val parent = open.headOption
    val op =
      if (newOp) { nextOp += 1; nextOp }
      else parent.map(_.op).getOrElse(-1)
    val s = new Span(spans.length, name, parent.map(_.id).getOrElse(-1), op, now)
    spans += s
    open = s :: open
    val sc = spark.sparkContext
    if (counting) sc.setLocalProperty(Prop, s.id.toString)
    try (body, s)
    finally {
      s.end = now
      open = open.tail
      if (counting) sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Total length of the union of `intervals`, clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var sum = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { sum += b - math.max(a, reach); reach = b }
      }
    sum
  }

  /** Place time-ordered events, roll counters up into every ancestor, and
    * derive self time and driver gaps. Call after the last [[detach]]. */
  def finish(): Unit = {
    if (counting) {
      timed.asScala.foreach { case (t, f) =>
        val hit = spans.filter(s => s.start <= t && t <= s.end)
        if (hit.nonEmpty) f(countersOf(hit.maxBy(_.start).id))
      }
      timed.clear()
    }
    spans.foreach(s => Option(own.get(s.id)).foreach(s.total.add))
    // children have higher ids than their parents
    spans.reverseIterator.foreach(s => if (s.parent >= 0) spans(s.parent).total.add(s.total))
    val children = spans.groupBy(_.parent)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end)).toSeq
      s.selfMs = s.ms - covered(kids, s.start, s.end)
      s.gapMs = s.ms - covered(s.total.jobIntervals.toSeq, s.start, s.end)
    }
  }

  def spanJson(s: Span): String = Json.obj(Seq(
    "id" -> Json.num(s.id.toLong), "name" -> Json.str(s.name),
    "parent" -> Json.num(s.parent.toLong), "op" -> Json.num(s.op.toLong),
    "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
    "self_ms" -> Json.num(s.selfMs), "driver_gap_ms" -> Json.num(s.gapMs)) ++
    s.total.fields.filter(_._2 != 0).map { case (k, v) => k -> Json.num(v) })
}
