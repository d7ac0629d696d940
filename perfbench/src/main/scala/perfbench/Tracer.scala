package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans around the harness's calls into the program, plus one record per
  * Spark job, both held in memory and dumped once at the end of the run.
  *
  * Spans nest as a stack per thread: the benchmark's client thread, and
  * during set-up one more thread that prepares a second crawl. A job is later assigned to a layer from its call site
  * (the short form, `<method> at <File>.scala:<line>`) and, for call sites
  * outside the program, from the innermost span open when it started; that
  * mapping and all aggregation happen in `perfbench/metrics.py`.
  *
  * Job and span times share one clock: epoch milliseconds, the clock the
  * DAG scheduler stamps its events with. Span edges are taken with
  * `System.nanoTime` and shifted onto it, so span durations keep full
  * precision. Disabled, nothing is recorded and no listener is installed. */
final class Tracer(val enabled: Boolean) extends SparkListener {

  import Tracer._

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = ThreadLocal.withInitial(() => mutable.Stack.empty[Span])
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val executionSite = new ConcurrentHashMap[Long, String]()

  /** Runs `f` inside a span named `name` that charges to `layer`. A `timed`
    * span is one unit of measured work (a query, a timed round); jobs that
    * start outside every timed span are the harness's own. */
  def span[T](name: String, layer: String, timed: Boolean = false)(f: => T): T =
    if (!enabled) f
    else {
      val stack = open.get()
      val s = spans.synchronized {
        val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
          layer, timed, nowMs, -1.0)
        spans += s
        s
      }
      stack.push(s)
      try f
      finally { s.endMs = nowMs; stack.pop() }
    }

  /** A SQL execution's description is the short call site of the action
    * that started it. Its jobs may be submitted from Spark's own thread
    * pools (adaptive query stages, broadcasts), whose call sites name no
    * program file, so a job takes its execution's call site when it has
    * one. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executionSite.put(s.executionId, s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executionSite.get(id.toLong)))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, e.time, site))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for {
      jobId <- Option(stageJob.get(info.stageId))
      j <- Option(jobs.get(jobId))
      m <- Option(info.taskMetrics)
    } j.synchronized {
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Everything recorded, as plain maps for the result file. */
  def dump(): Map[String, Any] = Map(
    "spans" -> spans.toSeq.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "timed" -> s.timed, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "call_site" -> j.callSite, "task_cpu_ns" -> j.cpuNs,
      "shuffle_write_bytes" -> j.shuffleWrite)))
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        timed: Boolean, startMs: Double, var endMs: Double)

  final class Job(val id: Int, val startMs: Long, val callSite: String) {
    @volatile var endMs: Long = -1L
    var cpuNs = 0L
    var shuffleWrite = 0L
  }
}
