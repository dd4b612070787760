package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Job, stage and task totals of one job group (one benchmark span). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var attempts = 0
  var succeeded = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  /** (start, end) wall-clock ms of each finished job */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** time with at least one of the group's jobs running */
  def jobWallMs: Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "attempts" -> attempts, "succeeded" -> succeeded,
    "run_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "input_bytes" -> input,
    "jobs_wall_s" -> jobWallMs / 1e3,
    "first_job_start_ms" -> jobIntervals.map(_._1).minOption.getOrElse(0L),
    "last_job_end_ms" -> jobIntervals.map(_._2).maxOption.getOrElse(0L))
}

/** Listener side of the traced run. Every job is tied to the span that
  * launched it through the job group the benchmark sets before each call
  * (`spark.jobGroup.id`); Catalyst phase times come from each action's
  * `QueryExecution.tracker`. Everything stays in memory until the run
  * ends. Only registered when tracing is on. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStartMs = mutable.HashMap.empty[Int, (String, Long)]
  private val groups = mutable.LinkedHashMap.empty[String, GroupStats]
  /** (phase start ms, phase name, duration ms) of every finished action */
  private val phases = mutable.ArrayBuffer.empty[(Long, String, Long)]

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStartMs(e.jobId) = (g, e.time)
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
    stats(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach { case (g, t0) =>
      stats(g).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stats(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, ""))
    s.attempts += 1
    if (e.taskInfo != null && e.taskInfo.successful) {
      s.succeeded += 1
      s.tasks += 1
    }
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((p.startTimeMs, name, p.durationMs))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** stats of one group, or empty stats when it launched no job */
  def group(g: String): GroupStats = synchronized {
    groups.getOrElse(g, new GroupStats)
  }

  def groupNames: Seq[String] = synchronized { groups.keys.toSeq }

  /** Catalyst phase durations (ms) of actions that started in [fromMs, toMs) */
  def phasesBetween(fromMs: Long, toMs: Long): Map[String, Long] = synchronized {
    phases.filter { case (t, _, _) => t >= fromMs && t < toMs }
      .groupMapReduce(_._2)(_._3)(_ + _)
  }
}
