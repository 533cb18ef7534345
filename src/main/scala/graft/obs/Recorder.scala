package graft.obs

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One action (a root SQL execution: `count`, `collect`, a write, a
  * `localCheckpoint` registration) with its output rows and wall time —
  * the materialization metadata the reference records per asset (row
  * count and size, from Dagster's I/O managers). */
final case class ActionMetric(funcName: String, outputRows: Long, wallNs: Long)

/** Raw Spark events, kept in memory and rolled up by [[span]] path.
  *
  * As a `QueryExecutionListener` alone ([[graft.sinks.Metrics.attach]])
  * it records each action's output rows and wall time. [[attach]] also
  * registers it as a `SparkListener` and as a receiver of span intervals,
  * so it records every job (with its span path and SQL execution id),
  * every task's metrics and every planning phase. Planning phases come
  * from `QueryExecution.tracker` and are charged to the spans open when
  * the phase started; jobs and tasks are charged by their span tag. The
  * records grow until [[clear]], so a profiler clears between queries.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val phases = new ConcurrentLinkedQueue[PhaseRec]
  private val spans = new ConcurrentLinkedQueue[SpanRec]
  private val actions = new ConcurrentLinkedQueue[ActionMetric]

  /** Start recording jobs, tasks, planning phases, actions and spans. */
  def attach(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    recorders.add(this)
    this
  }

  def detach(spark: SparkSession): Unit = {
    recorders.remove(this)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs.add(JobRec(e.jobId, e.time, prop(SpanKey), prop(ExecutionIdKey), e.stageIds))
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

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    recordPhases(qe)
    val rows = outputRows(qe.executedPlan, counting = funcName == "count")
    actions.add(ActionMetric(funcName, rows.getOrElse(-1L), durationNs))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    recordPhases(qe)
    actions.add(ActionMetric(s"$funcName!failed", -1L, -1L))
  }

  private def recordPhases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, s) =>
      if (PlanPhases(name)) phases.add(PhaseRec(s.startTimeMs, s.endTimeMs))
    }

  private[obs] def spanEnded(path: String, startMs: Long, endMs: Long): Unit =
    spans.add(SpanRec(path, startMs, endMs))

  /** The actions recorded since the last [[clear]]. */
  def snapshot: Seq[ActionMetric] = actions.asScala.toSeq

  /** Drop every record. */
  def clear(): Unit = {
    jobs.clear(); tasks.clear(); phases.clear(); spans.clear(); actions.clear()
  }

  def jobRecords: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.id)

  /** Tasks of the given jobs; a stage shared by several jobs counts once,
    * for the first job that listed it. */
  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val owner = jobRecords.flatMap(j => j.stages.map(_ -> j.id))
      .groupBy(_._1).map { case (s, v) => s -> v.head._2 }
    val ids = js.map(_.id).toSet
    tasks.asScala.filter(t => owner.get(t.stageId).exists(ids)).toSeq
  }

  /** Per span path: the 8 span metrics of the benchmark's traced pass,
    * each covering the span's nested spans too, plus `self_jobs`, the jobs
    * tagged with exactly this path. So a span's `jobs` is its `self_jobs`
    * plus its children's `jobs`, and the `self_jobs` of all rows add up
    * to the tagged jobs. A span entered more than once (a loop, or
    * concurrent chains) is summed; peak memory is the max. `plan_s`
    * counts a planning phase once per path whose span was open when the
    * phase started, so concurrent sibling spans may share a phase. */
  def spanTable: Map[String, Map[String, Double]] = {
    val js = jobRecords
    val ph = phases.asScala.toSeq
    val occ = spans.asScala.toSeq.groupBy(_.path)
    val paths = occ.keySet ++ js.flatMap(_.span).flatMap { p =>
      val parts = p.split('/')
      (1 to parts.length).map(parts.take(_).mkString("/"))
    }
    paths.iterator.map { path =>
      val os = occ.getOrElse(path, Nil)
      val sj = js.filter(_.span.exists(s => s == path || s.startsWith(path + "/")))
      val ts = tasksOf(sj)
      val wall = os.map(o => o.endMs - o.startMs).sum / 1e3
      val busy = os.map(o => busyMs(ts, o.startMs, o.endMs)).sum / 1e3
      val plan = ph.filter(p => os.exists(o => p.startMs >= o.startMs && p.startMs < o.endMs))
        .map(p => p.endMs - p.startMs).sum / 1e3
      path -> Map(
        "wall_s" -> wall,
        "driver_s" -> math.max(0.0, wall - busy),
        "plan_s" -> plan,
        "jobs" -> sj.size.toDouble,
        "task_s" -> ts.map(_.runMs).sum / 1e3,
        "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / Mb,
        "spill_mb" -> ts.map(_.spill).sum / Mb,
        "peak_exec_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / Mb),
        "self_jobs" -> js.count(_.span.contains(path)).toDouble)
    }.toMap
  }
}

object Recorder {
  val Mb = 1024.0 * 1024.0
  private val ExecutionIdKey = "spark.sql.execution.id"
  private val PlanPhases = Set("analysis", "optimization", "planning")

  final case class JobRec(id: Int, submitMs: Long, span: Option[String],
      executionId: Option[String], stages: Seq[Int])
  final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
      runMs: Long, shuffleWrite: Long, spill: Long, peakMem: Long, failed: Boolean)
  final case class PhaseRec(startMs: Long, endMs: Long)
  final case class SpanRec(path: String, startMs: Long, endMs: Long)

  /** Rows out of the topmost operator that counts them; under AQE, in the
    * final plan, whose root stage wraps the operators. For a `count`, the
    * rows of the frame counted: the global aggregate and its exchange are
    * passed over. */
  private def outputRows(p: SparkPlan, counting: Boolean): Option[Long] = p match {
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan, counting)
    case s: QueryStageExec => outputRows(s.plan, counting)
    case a: BaseAggregateExec if counting && a.groupingExpressions.isEmpty =>
      outputRows(a.child, counting)
    case _: ShuffleExchangeLike if counting => outputRows(p.children.head, counting)
    case _ if p.metrics.contains("numOutputRows") => Some(p.metrics("numOutputRows").value)
    case _ => p.children.iterator.flatMap(outputRows(_, counting)).nextOption()
  }

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
