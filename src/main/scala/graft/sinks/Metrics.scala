package graft.sinks

import org.apache.spark.sql.SparkSession

import graft.obs.Recorder

/** K8 materialization metadata (the reference's io_managers.py:115-120
  * emits row_count/size per asset): per-action row counts and wall time,
  * captured automatically — no per-call bookkeeping at the call sites.
  * The record is [[graft.obs.Recorder]]'s action log, the same listener
  * the profiler rolls spans up with. */
object Metrics {
  /** Attach a fresh action recorder to the session (as a
    * `QueryExecutionListener` only); returns it for inspection. */
  def attach(spark: SparkSession): Recorder = {
    val l = new Recorder
    spark.listenerManager.register(l)
    l
  }
}
