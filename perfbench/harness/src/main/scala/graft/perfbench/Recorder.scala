package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw Spark events, kept in memory and rolled up after each pass.
  *
  * Jobs are tagged through two local properties the benchmark sets on
  * its own thread: the pass id and, in a traced pass, the span name.
  * Threads created inside a span (e.g. `Concurrent.mapInParallel`'s pool)
  * inherit both, and Spark's broadcast and subquery threads copy them
  * explicitly, so every job of a pass carries its tags. Planning phases
  * come from `QueryExecution.tracker` and are attributed by the time at
  * which each phase started, since spans never overlap.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val phases = new ConcurrentLinkedQueue[PhaseRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs.add(JobRec(e.jobId, e.time, prop(PassKey), prop(SpanKey), e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L),
      m.map(_.peakExecutionMemory).getOrElse(0L),
      failed = !i.successful))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, s) =>
      if (PlanPhases(name)) phases.add(PhaseRec(s.startTimeMs, s.endTimeMs))
    }

  /** Jobs tagged with `pass`, with their tasks. */
  def passJobs(pass: String): Seq[JobRec] = jobs.asScala.filter(_.pass.contains(pass)).toSeq

  /** Tasks of the given jobs; a stage shared by several jobs counts once,
    * for the first job that listed it. */
  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val owner = jobs.asScala.toSeq.sortBy(_.id)
      .flatMap(j => j.stages.map(_ -> j.id)).groupBy(_._1).map { case (s, v) => s -> v.head._2 }
    val ids = js.map(_.id).toSet
    tasks.asScala.filter(t => owner.get(t.stageId).exists(ids)).toSeq
  }

  /** Whole-pass totals: jobs, task seconds, max task peak memory. */
  def passTotals(pass: String): PassTotals = {
    val js = passJobs(pass)
    val ts = tasksOf(js)
    PassTotals(js.size, ts.map(_.runMs).sum / 1e3,
      if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / Mb,
      ts.count(_.failed))
  }

  /** Per-span metrics of one traced pass; a span entered more than once in
    * the pass is summed (peak memory: max). */
  def spanMetrics(pass: String, spans: Seq[SpanRec]): Map[String, Map[String, Double]] = {
    val js = passJobs(pass)
    val ph = phases.asScala.toSeq
    spans.groupBy(_.name).map { case (name, occ) =>
      val sj = js.filter(_.span.contains(name))
      val ts = tasksOf(sj)
      val wall = occ.map(o => o.endMs - o.startMs).sum / 1e3
      val busy = occ.map(o => busyMs(ts, o.startMs, o.endMs)).sum / 1e3
      val plan = occ.map(o => ph.filter(p => p.startMs >= o.startMs && p.startMs < o.endMs)
        .map(p => p.endMs - p.startMs).sum).sum / 1e3
      name -> Map(
        "wall_s" -> wall,
        "driver_s" -> math.max(0.0, wall - busy),
        "plan_s" -> plan,
        "jobs" -> sj.size.toDouble,
        "task_s" -> ts.map(_.runMs).sum / 1e3,
        "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / Mb,
        "spill_mb" -> ts.map(_.spill).sum / Mb,
        "peak_exec_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / Mb))
    }
  }

  /** Jobs that ran inside a traced pass without a span tag: tagged with the
    * pass but no span, or untagged and submitted inside the pass window. */
  def unattributed(pass: String, startMs: Long, endMs: Long): Int =
    jobs.asScala.count { j =>
      (j.pass.contains(pass) && j.span.isEmpty) ||
        (j.pass.isEmpty && j.submitMs >= startMs && j.submitMs <= endMs)
    }
}

object Recorder {
  val PassKey = "graft.perfbench.pass"
  val SpanKey = "graft.perfbench.span"
  val Mb = 1024.0 * 1024.0
  private val PlanPhases = Set("analysis", "optimization", "planning")

  final case class JobRec(id: Int, submitMs: Long, pass: Option[String],
      span: Option[String], stages: Seq[Int])
  final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
      runMs: Long, shuffleWrite: Long, spill: Long, peakMem: Long, failed: Boolean)
  final case class PhaseRec(startMs: Long, endMs: Long)
  final case class SpanRec(name: String, startMs: Long, endMs: Long)
  final case class PassTotals(jobs: Int, taskS: Double, peakMemMb: Double, tasksFailed: Int)

  /** Milliseconds of [start, end] during which at least one task ran. */
  def busyMs(ts: Seq[TaskRec], start: Long, end: Long): Long = {
    val iv = ts.map(t => (math.max(t.launchMs, start), math.min(t.finishMs, end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }
}
