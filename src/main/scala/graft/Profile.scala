package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Dev main: where each query's jobs, time and memory went. Runs every
  * registered query once (in registry order) and writes one JSON record
  * per query, one per line, to the path given as the only argument
  * (default `profile.jsonl`):
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> [SPARK_GRAFT_CPUS=4] [SPARK_GRAFT_ONLY=q150,q91]
  *   java <add-opens> -cp "target/scala-2.13/classes:<spark jars>" graft.Profile [out]
  *
  * The session is [[Verify.session]], built as [[Bench]] builds it. To A/B a setting, run
  * twice with different `-Dspark.…` JVM properties (SparkConf reads them);
  * each record carries the `spark.*` properties it ran under. Queries are
  * not warmed up, so compare runs over the same query list. Bench's timed
  * gate is untouched: this is a separate main.
  */
object Profile {
  /** Runs `fn` once under the root span `queries.<name>` with `rec`
    * attached, and returns its record: wall time, jobs, stages, driver
    * gates (SQL executions that ran a job, plus jobs outside any
    * execution), the per-span table ([[obs.Recorder.spanTable]]), the
    * jobs that ran without a span, each action's row count, the persistent
    * RDDs and cache entries the query added and left behind, and the
    * formatted plan. Leaves those leftovers in place for the caller. */
  def query(spark: SparkSession, rec: obs.Recorder, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Map[String, Any] = {
    val sc = spark.sparkContext
    GraftSqlBridge.drainListenerBus(sc)
    rec.clear()
    val rddsBefore = sc.getPersistentRDDs.keySet
    val cachedBefore = GraftSqlBridge.cachedEntries(spark)
    val t0 = System.nanoTime()
    val result = Try(obs.span(s"queries.$name") {
      val df = fn(spark, sfDir)
      (df, df.count())
    })
    val wall = (System.nanoTime() - t0) / 1e9
    GraftSqlBridge.drainListenerBus(sc)
    val jobs = rec.jobRecords
    val left = sc.getPersistentRDDs.toSeq.filterNot(r => rddsBefore(r._1)).sortBy(_._1)
    Map(
      "query" -> name,
      "rows" -> result.map(_._2).getOrElse(-1L),
      "error" -> result.failed.map(_.toString).getOrElse(""),
      "wall_s" -> wall,
      "jobs" -> jobs.size,
      "stages" -> rec.tasksOf(jobs).map(_.stageId).distinct.size,
      "driver_gates" -> (jobs.flatMap(_.executionId).distinct.size +
        jobs.count(_.executionId.isEmpty)),
      "unattributed_jobs" -> jobs.count(_.span.isEmpty),
      "spans" -> rec.spanTable,
      "actions" -> rec.snapshot.map(a =>
        Map("func" -> a.funcName, "rows" -> a.outputRows, "wall_s" -> a.wallNs / 1e9)),
      "leaked_rdds" -> left.size,
      "persistent_rdds" -> left.map { case (id, r) =>
        s"$id ${r.getClass.getSimpleName} ${r.getStorageLevel.description}" },
      "cache_entries" -> (GraftSqlBridge.cachedEntries(spark) - cachedBefore),
      "plan" -> result.flatMap(r => Try(planText(r._1))).getOrElse(""))
  }

  /** `df`'s formatted physical plan with control characters escaped (a
    * plan can embed them, e.g. datasetDiff's fingerprint separator) and
    * cut at `maxLines`: the unrolled PQ/residual chains render tens of
    * thousands of lines, and the operator tree at the top (scan pushdown,
    * join strategies, codegen spans) is the signal. */
  def planText(df: DataFrame, maxLines: Int = 1500): String = {
    val plan = df.queryExecution.explainString(FormattedMode).flatMap {
      case c if c != '\n' && c != '\t' && c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val lines = plan.split('\n')
    if (lines.length <= maxLines) plan
    else lines.take(maxLines).mkString("\n") +
      s"\n… [truncated: ${lines.length} lines total]\n"
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("profile.jsonl")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a data directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Verify.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val run = Map("sf" -> sfDir, "cpus" -> cpus, "git" -> Provenance.gitSha,
      "conf" -> sys.props.toMap.filter(_._1.startsWith("spark.")))
    val rec = new obs.Recorder().attach(spark)
    val w = Files.newBufferedWriter(Paths.get(out))
    try SparkEntry.registry.filter(q => only.forall(_.exists(q.name.startsWith))).foreach { q =>
      val r = query(spark, rec, sfDir, q.name, q.fn)
      w.write(Serialization.write(r ++ run)(DefaultFormats))
      w.newLine()
      w.flush()
      System.err.println("profile %s %.2f s, %s jobs, %s leaked RDDs %s".format(
        q.name, r("wall_s"), r("jobs"), r("leaked_rdds"), r("error")))
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    } finally w.close()
    spark.stop()
  }
}
