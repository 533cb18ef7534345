package graft

/** Smoke test of `Profile.query`, the per-query function of the
  * profiler main, on a graph pipeline and a dedup query. */
class ProfileSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  Seq("q150_graphrag_capstone" -> "graph.lpaLeidenRefineMulti",
      "q91_fuzzy_dedup" -> "dedup.fuzzyDedup").foreach { case (name, seam) =>
    test(s"Profile.query on $name: every job in a span, span jobs add up, leaks counted") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val rec = new obs.Recorder().attach(spark)
      val r = try Profile.query(spark, rec, dir, name, SparkEntry.queries(name))
        finally rec.detach(spark)
      val added = sc.getPersistentRDDs.keySet -- before
      try {
        assert(r("error") == "")
        assert(r("unattributed_jobs") == 0)
        val total = r("jobs").asInstanceOf[Int].toDouble
        val spans = r("spans").asInstanceOf[Map[String, Map[String, Double]]]
        val root = s"queries.$name"
        assert(total > 0 && spans(root)("jobs") == total)
        assert(spans.values.map(_("self_jobs")).sum == total)
        // a span's jobs are its own plus its direct children's
        spans.foreach { case (path, m) =>
          val children = spans.collect {
            case (c, cm) if c.startsWith(path + "/") &&
                !c.drop(path.length + 1).contains('/') => cm("jobs")
          }
          assert(m("jobs") == m("self_jobs") + children.sum, path)
        }
        assert(spans.contains(s"$root/$seam"), spans.keys)
        assert(r("leaked_rdds") == added.size)
      } finally added.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    }
  }
}
