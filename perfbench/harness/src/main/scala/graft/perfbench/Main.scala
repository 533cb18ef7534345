package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{PerfbenchBridge, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Runs one workload in this JVM and writes the raw measurements to
  * `<out>/result.json`, plus the reference pass's rows (parquet) and the
  * query's oracle SQL for the outside-the-timer checks.
  *
  *   Main <workload> <dataDir> <outDir> <seconds> <trace 0|1>
  *
  * Sequence: [[SetUps]] set-ups (session start + scan of every input
  * table; every session but the last is stopped again), the workload's
  * untimed warm-up passes, then rounds of passes until `seconds` have
  * elapsed and at least the workload's `minPasses` rounds ran. Untraced
  * passes run the registered query;
  * with trace = 1 each round is one traced and one untraced pass.
  * Caches are cleared after every pass, outside its timer, after the
  * leaked-cache count is taken.
  */
object Main {
  /** Two task threads leave the other two of a 4-core machine to the
    * driver, JIT and GC threads, so a pass does not wait on the scheduler. */
  val Cores = 2
  val SetUps = 3

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secondsOf[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Order-insensitive row fingerprint, columns taken by name. */
  private def canonical(rows: Array[Row], schema: StructType): Seq[String] = {
    val names = schema.fieldNames.sorted
    rows.toSeq.map(r => names.map(n => String.valueOf(r.get(r.fieldIndex(n)))).mkString("\u0001")).sorted
  }

  def main(args: Array[String]): Unit = {
    val Array(wName, dataDir, outDir, secondsArg, traceArg) = args
    val workload = Workload.all(wName)
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    new File(outDir).mkdirs()

    val setups = (1 to SetUps).map { i =>
      if (i > 1) {
        SparkSession.active.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      secondsOf {
        val s = session(outDir)
        workload.tables.foreach(t => graft.Tables(s, dataDir, t).count())
      }._1
    }
    val spark = SparkSession.active
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)

    def clearCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def leaked(): Int =
      sc.getPersistentRDDs.size + PerfbenchBridge.cachedEntries(spark)

    val passes = ArrayBuffer[Map[String, Any]]()
    val spanRecs = ArrayBuffer[Map[String, Map[String, Double]]]()
    var unattributed = 0
    var reference: Option[(Seq[String], Array[Row], StructType)] = None
    var n = 0

    def runPass(traced: Boolean, kind: String): Unit = {
      n += 1
      val id = s"$kind-$n"
      val tracer = new Tracer(spark)
      sc.setLocalProperty(Recorder.PassKey, id)
      val t0 = System.currentTimeMillis()
      val (wall, result) = secondsOf {
        try Right(
          if (traced) workload.traced(spark, dataDir, tracer)
          else {
            val df = graft.SparkEntry.queries(workload.query)(spark, dataDir)
            (df.collect(), df)
          })
        catch { case e: Throwable => Left(e.toString) }
      }
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(Recorder.PassKey, null)
      PerfbenchBridge.drainListenerBus(sc)
      val leakedNow = leaked()
      clearCaches()
      val tot = rec.passTotals(id)
      val matches = result match {
        case Right((rows, df)) =>
          val c = canonical(rows, df.schema)
          if (reference.isEmpty) reference = Some((c, rows, df.schema))
          reference.exists(_._1 == c)
        case Left(_) => false
      }
      if (traced) {
        spanRecs += rec.spanMetrics(id, tracer.spans.toSeq)
        unattributed += rec.unattributed(id, t0, t1)
      }
      passes += Map(
        "kind" -> kind, "wall_s" -> wall, "jobs" -> tot.jobs, "task_s" -> tot.taskS,
        "peak_exec_mem_mb" -> tot.peakMemMb, "tasks_failed" -> tot.tasksFailed,
        "leaked_rdds" -> leakedNow, "matches_reference" -> matches,
        "rows" -> result.map(_._1.length).getOrElse(-1),
        "error" -> result.left.getOrElse(""))
    }

    (1 to workload.warmups).foreach(_ => runPass(traced = false, "warmup"))
    val start = System.nanoTime()
    // traced rounds alternate which pass goes first, and there are at
    // least two, so neither side of the overhead ratio is always the
    // less-warmed one
    var round = 0
    do {
      if (trace && round % 2 == 0) runPass(traced = true, "traced")
      runPass(traced = false, "untraced")
      if (trace && round % 2 == 1) runPass(traced = true, "traced")
      round += 1
    } while ((System.nanoTime() - start) / 1e9 < seconds || round < workload.minPasses)

    reference.foreach { case (_, rows, schema) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/reference")
    }
    val json = Serialization.write(Map(
      "workload" -> wName,
      "query" -> workload.query,
      "oracle_sql" -> graft.SparkEntry.oracleSql(workload.query),
      "setup_s" -> setups,
      "passes" -> passes.toSeq,
      "spans" -> spanRecs.toSeq,
      "unattributed_jobs" -> unattributed))(DefaultFormats)
    val w = new PrintWriter(new File(s"$outDir/result.json"), StandardCharsets.UTF_8)
    try w.write(json) finally w.close()
    spark.stop()
    sys.exit(0) // no stray non-daemon thread may keep the JVM alive
  }
}
