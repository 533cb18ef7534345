package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The local session the mains run queries under (as [[Bench]] builds
    * it), with `cpus` task threads and as many shuffle partitions. */
  private[graft] def session(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only filter: SPARK_GRAFT_ONLY=q114,q115 to verify a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    var failed = List.empty[String]
    SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free per-query caches (persisted results, localCheckpoint RDDs) —
      // same hygiene as Bench, keeps the 70+-query dump memory-bounded
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Provenance sidecar (round-7 verdict item 4): commit SHA + timestamp so
    // the dump is traceable to the exact source state it was produced from.
    Files.writeString(Paths.get(s"$outDir/provenance.json"),
      s"""{"git":"${Provenance.gitSha}","at":"${Provenance.timestamp}","sf":${q(sfDir)}}""")
    spark.stop()
    // A query that threw produced no parquet — the driver would record it
    // as silently MISSING (round 6: five queries vanished from
    // CORRECTNESS with exit 0). Fail loudly instead.
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
