package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval; `parent` is another span's id or -1. Times are
  * milliseconds since the run started. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, job: Int) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "start_ms" -> startMs,
    "end_ms" -> endMs, "parent" -> parent, "job" -> job)
}

/** Spans kept in memory and written out once, when the run ends. Bench
  * times come from `nanoTime`, engine times are epoch milliseconds; both
  * are stored relative to the run's start. */
final class SpanLog {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]

  def nsToMs(ns: Long): Double = (ns - originNs) / 1e6
  def epochToMs(ms: Long): Double = (ms - originMs).toDouble
  def nowEpochMs: Long = originMs + (System.nanoTime() - originNs) / 1000000L

  def add(name: String, startMs: Double, endMs: Double, parent: Int, job: Int): Int = synchronized {
    spans += Span(spans.length, name, startMs, endMs, parent, job)
    spans.length - 1
  }

  /** Open a span now; `close` sets its end. */
  def open(name: String, parent: Int, job: Int): Int = {
    val t = nsToMs(System.nanoTime())
    add(name, t, t, parent, job)
  }
  def close(id: Int): Unit = synchronized {
    spans(id) = spans(id).copy(endMs = nsToMs(System.nanoTime()))
  }
  def reshape(id: Int, startMs: Double, endMs: Double): Unit = synchronized {
    spans(id) = spans(id).copy(startMs = startMs, endMs = endMs)
  }

  def all: Seq[Span] = synchronized(spans.toVector)
}

/** Records what every query reports to a `QueryExecutionListener`: the
  * `intake` observed metrics and Catalyst's phase times. Registered in every run,
  * because the intake counters are part of the output check. */
final class QueryMetrics extends QueryExecutionListener {
  @volatile var lastIntake: Option[Row] = None
  private var planMs = 0L
  private var done = 0L

  def planSeconds: Double = synchronized(planMs / 1000.0)
  def completed: Long = synchronized(done)
  def resetPlan(): Unit = synchronized { planMs = 0L }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.observedMetrics.get("intake").foreach(r => lastIntake = Some(r))
    val phases = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized { planMs += phases; done += 1 }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized(done += 1)

  /** Block until `n` queries have been reported: the events arrive on the
    * listener bus after the action returns. */
  def awaitCompleted(n: Long, timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (completed < n && System.currentTimeMillis() < deadline) Thread.sleep(2)
  }
}

/** The engine's side of a traced interval, from a `SparkListener` that the
  * benchmark registers: stage intervals tagged with the module of their
  * call site, and per-task metrics. */
final class EngineListener extends SparkListener {
  import EngineListener._

  private val markerStages = mutable.Set.empty[Int]
  private val markersSeen = mutable.Set.empty[String]
  private val stageBuf = mutable.ArrayBuffer.empty[StageRec]
  private val taskBuf = mutable.ArrayBuffer.empty[TaskRec]
  private var jobCount = 0

  def reset(): Unit = synchronized { stageBuf.clear(); taskBuf.clear(); jobCount = 0 }
  def stages: Seq[StageRec] = synchronized(stageBuf.toVector)
  def tasks: Seq[TaskRec] = synchronized(taskBuf.toVector)
  def jobs: Int = synchronized(jobCount)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(Marker) != null)) markerStages ++= e.stageIds
    else jobCount += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    if (markerStages(i.stageId)) markersSeen += i.name
    else stageBuf += StageRec(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), moduleOf(i.details))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!markerStages(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      taskBuf += TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.jvmGCTime, e.taskInfo.attemptNumber)
    }
  }

  /** Wait until every event posted before this call has been delivered:
    * run a one-task marker job and wait for its stage here (a listener
    * queue delivers its events in order). */
  def sync(spark: SparkSession): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    sc.setLocalProperty(Marker, token)
    sc.setCallSite(token)
    try sc.parallelize(Seq(1), 1).count()
    finally { sc.setLocalProperty(Marker, null); sc.clearCallSite() }
    val deadline = System.currentTimeMillis() + 30000L
    while (!synchronized(markersSeen.exists(_.contains(token))) &&
      System.currentTimeMillis() < deadline) Thread.sleep(2)
  }
}

object EngineListener {
  final val Marker = "perfbench.marker"

  final case class StageRec(id: Int, submitMs: Long, endMs: Long, module: String)
  final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                           shuffleWrite: Long, shuffleRead: Long, spill: Long,
                           gcMs: Long, attempt: Int)

  val Modules: Seq[String] = Seq("sources", "pipeline", "sinks", "operators", "unattributed")

  /** A stage's module: the package of the first `graft.*` frame of its
    * call site, or `unattributed` when no frame is the program's. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(f) if f.startsWith("graft.sources.") => "sources"
      case Some(f) if f.startsWith("graft.pipeline.") => "pipeline"
      case Some(f) if f.startsWith("graft.sinks.") => "sinks"
      case Some(_) => "operators"
      case None => "unattributed"
    }

  /** Split [t0, t1] among the modules whose stages run at each instant,
    * in equal shares when several run at once; time with no stage running
    * is the residual. The self times plus the residual equal t1 - t0.
    * Seconds. */
  def selfTimes(stages: Seq[StageRec], t0: Long, t1: Long): (Map[String, Double], Double) = {
    val cuts = (stages.flatMap(s => Seq(s.submitMs, s.endMs)) ++ Seq(t0, t1))
      .filter(t => t >= t0 && t <= t1).distinct.sorted
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var residual = 0.0
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val running = stages.filter(s => s.submitMs <= a && s.endMs >= b).map(_.module).distinct
        if (running.isEmpty) residual += b - a
        else running.foreach(m => self(m) += (b - a).toDouble / running.size)
      case _ =>
    }
    (Modules.map(m => m -> self(m) / 1000.0).toMap, residual / 1000.0)
  }

  /** Seconds of [t0, t1] that no interval covers. */
  def uncovered(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Double = {
    var covered = 0L
    var reach = t0
    intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (t1 - t0 - covered) / 1000.0
  }
}
