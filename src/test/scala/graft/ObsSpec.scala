package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge

import graft.obs.{span, Recorder, SpanKey}
import graft.operators.Concurrent

/** Span semantics: what a job is tagged with, what a span restores, and
  * what it leaves behind when nothing records. */
class ObsSpec extends SparkSpec {
  private def job(): Long = spark.sparkContext.parallelize(1 to 4, 2).count()

  /** Runs `body` with a fresh recorder attached; returns the recorder
    * with every event of `body` delivered. */
  private def recorded(body: => Unit): Recorder = {
    val rec = new Recorder().attach(spark)
    try {
      body
      GraftSqlBridge.drainListenerBus(spark.sparkContext)
      rec
    } finally rec.detach(spark)
  }

  test("a job inside span(a) { span(b) { … } } is tagged b under a") {
    val rec = recorded(span("a") { span("b")(job()) })
    assert(rec.jobRecords.map(_.span) == Seq(Some("a/b")))
    val t = rec.spanTable
    assert(t.keySet == Set("a", "a/b"))
    assert(t("a")("jobs") == 1 && t("a")("self_jobs") == 0)
    assert(t("a/b")("jobs") == 1 && t("a/b")("self_jobs") == 1)
  }

  test("the enclosing span comes back on normal exit and when the body throws") {
    val sc = spark.sparkContext
    span("outer") {
      assert(span("inner")(sc.getLocalProperty(SpanKey)) == "outer/inner")
      assert(sc.getLocalProperty(SpanKey) == "outer")
      intercept[IllegalStateException](span("failing") {
        throw new IllegalStateException("boom")
      })
      assert(sc.getLocalProperty(SpanKey) == "outer")
    }
    assert(sc.getLocalProperty(SpanKey) == null)
  }

  test("jobs of Concurrent.mapInParallel chains inside a span carry it") {
    val rec = recorded(span("par") {
      Concurrent.mapInParallel(1 to 3) { i =>
        spark.range(i * 10L).selectExpr("sum(id)").collect()
        span("chain")(job())
      }
    })
    val tags = rec.jobRecords.map(_.span)
    assert(tags.count(_.contains("par/chain")) == 3)
    assert(tags.forall(_.exists(_.startsWith("par"))), tags)
  }

  test("a preset graft.perfbench.span property is left unchanged") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, String)]
    val props = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty("graft.perfbench.span"),
          e.properties.getProperty(SpanKey)))
    }
    sc.addSparkListener(props)
    sc.setLocalProperty("graft.perfbench.span", "bench")
    try {
      span("engine") {
        assert(sc.getLocalProperty("graft.perfbench.span") == "bench")
        job()
      }
      assert(sc.getLocalProperty("graft.perfbench.span") == "bench")
      GraftSqlBridge.drainListenerBus(sc)
      assert(seen.asScala.toSeq == Seq(("bench", "engine")))
    } finally {
      sc.setLocalProperty("graft.perfbench.span", null)
      sc.removeSparkListener(props)
    }
  }

  test("with no recorder attached a span registers nothing and keeps no record") {
    val detached = new Recorder().attach(spark)
    detached.detach(spark)
    assert(obs.recorders.isEmpty)
    (1 to 200).foreach(i => span(s"s$i")(span("inner")(())))
    span("with-job")(job())
    GraftSqlBridge.drainListenerBus(spark.sparkContext)
    assert(obs.recorders.isEmpty)
    assert(detached.spanTable.isEmpty && detached.jobRecords.isEmpty)
    assert(spark.sparkContext.getLocalProperty(SpanKey) == null)
  }
}
