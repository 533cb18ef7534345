package graft.tools_dev

import org.apache.spark.sql.SparkSession
import graft.vector.Similarity

/** Dev-only: A/B the semDedup CC engine pick at SPARK_GRAFT_SF_DIR by
  * forcing each side of the graphxMaxEdges threshold (0 ⇒ the Catalyst
  * ccStarEdges rounds always; huge ⇒ GraphX Pregel whenever the probe
  * count fits).
  * The r16 sf1 regression hunt: q143's τ-graph at sf1 (~207k edges of
  * 10-cliques) sits UNDER the 2M threshold borrowed from fuzzyDedup, so
  * Auto picks GraphX — this tool measures whether that pick is right. */
object SemCcAb {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    val n = args.headOption.map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def clear(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    val variants = Seq("graphx(<=2M)" -> 2000000L, "catalyst(0)" -> 0L)
    // warmup both engines on the small SF
    for ((_, thr) <- variants) {
      try Similarity.semDedup(
        graft.Tables(spark, "/root/testdata/sf0.01", "embeddings"),
        "vec_id", "embedding", k = 8, iters = 2, tau = 0.35,
        graphxMaxEdges = thr).count()
      catch { case e: Throwable => System.err.println(s"warmup: $e") }
      clear()
    }
    for (i <- 1 to n; (name, thr) <- variants) {
      val emb = graft.Tables(spark, sfDir, "embeddings")
      val t0 = System.nanoTime()
      val rows = Similarity.semDedup(emb, "vec_id", "embedding",
        k = 8, iters = 2, tau = 0.35, graphxMaxEdges = thr).count()
      println(f"$name%-14s run$i ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$rows")
      clear()
    }
    spark.stop()
  }
}
