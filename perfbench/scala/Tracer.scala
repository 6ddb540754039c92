package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds, so harness spans and
  * the listener's job/stage times share one clock.
  */
final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
    val start: Double, var end: Double)

/** Work the listeners attribute to one harness span (the span id rides on
  * the `perfbench.span` local property of every job the span submits).
  */
final class SpanWork {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, bytesRead, recordsRead = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillDisk = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall milliseconds during which at least one task of the span ran. */
  def taskUnionMs: Long = {
    var total, curS, curE = 0L
    var open = false
    taskIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else if (e > curE) curE = e
    }
    if (open) total += curE - curS
    total
  }
}

/** Spans around the benchmark's calls plus listener job/stage spans as their
  * children. Everything stays in memory until [[Tracer.spansJson]] at the end.
  * All state is guarded by `this`: the harness thread opens spans while the
  * listener-bus thread adds jobs, stages, tasks and planning phases.
  */
final class Tracer(val runId: String) extends SparkListener with QueryExecutionListener {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private var nextId = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val harnessSpans = mutable.ArrayBuffer.empty[Span]
  private val work = mutable.Map.empty[Int, SpanWork]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val phases = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]

  private def newSpan(parent: Int, name: String, layer: String, start: Double, end: Double): Span =
    synchronized {
      nextId += 1
      val s = new Span(nextId, parent, name, layer, start, end)
      spans += s
      s
    }

  def open(parent: Int, name: String, layer: String): Span = record(parent, name, layer, nowMs, Double.NaN)
  def close(s: Span): Unit = synchronized(s.end = nowMs)
  /** A harness span with given times (the run and the session are timed
    * before tracing can start).
    */
  def record(parent: Int, name: String, layer: String, start: Double, end: Double): Span = {
    val s = newSpan(parent, name, layer, start, end)
    synchronized(harnessSpans += s)
    s
  }

  private def workOf(spanId: Int): SpanWork = work.getOrElseUpdate(spanId, new SpanWork)
  def workFor(spanId: Int): Option[SpanWork] = synchronized(work.get(spanId))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toInt).getOrElse(0)
    jobSpans(e.jobId) = newSpan(owner, s"job ${e.jobId}", "spark.job", e.time.toDouble, e.time.toDouble)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    workOf(owner).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  private def ownerOfStage(stageId: Int): Option[Span] = stageJob.get(stageId).flatMap(jobSpans.get)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    ownerOfStage(info.stageId).foreach { job =>
      val start = info.submissionTime.getOrElse(job.start.toLong).toDouble
      val end = info.completionTime.getOrElse(start.toLong).toDouble
      newSpan(job.id, s"stage ${info.stageId}", "spark.stage", start, end)
      workOf(job.parent).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    ownerOfStage(e.stageId).foreach { job =>
      val w = workOf(job.parent)
      w.tasks += 1
      w.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.bytesRead += m.inputMetrics.bytesRead
        w.recordsRead += m.inputMetrics.recordsRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        w.spillDisk += m.diskBytesSpilled
      }
    }
  }

  private def phasesOf(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    if (p.nonEmpty) synchronized {
      def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      phases += ((p.values.map(_.startTimeMs).min.toDouble, ms("analysis"), ms("optimization"), ms("planning")))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phasesOf(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phasesOf(qe)

  /** Attribute each executing command's planning phases to the innermost
    * harness span open when its tracker started. Call after the bus drained.
    */
  def attributePhases(): Unit = synchronized {
    phases.foreach { case (t, a, o, p) =>
      val owner = harnessSpans.filter(s => s.start <= t && !(s.end < t)).sortBy(-_.start).headOption
      owner.foreach { s =>
        val w = workOf(s.id)
        w.analysisMs += a; w.optimizationMs += o; w.planningMs += p
      }
    }
    phases.clear()
  }

  def spansJson: String = synchronized {
    spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},"start":${Json.num(s.start)},"end":${Json.num(s.end)},"run":${Json.str(runId)}}"""
    }.mkString("[", ",\n", "]")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
