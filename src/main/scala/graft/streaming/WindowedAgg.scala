package graft.streaming

import graft.LocalFiles
import graft.functions.Exact
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation over the events stream — the streaming
  * form of Q20 (the reference has NO event-time processing anywhere —
  * SURVEY §2C "streaming stateful ops" — so this is extension surface:
  * watermarks are added here and only here, never imposed on the
  * arrival-ordered core pipelines).
  *
  * In append mode a window emits exactly once, when the watermark passes
  * its end — the batch-equivalence test asserts emitted windows match the
  * batch computation over the same rows ([[graft.operators.Relational.q20TumblingWindow]]
  * is the batch twin, oracle-checked against DuckDB).
  */
object WindowedAgg {

  /** Tumbling 1-hour event-time counts/sums with a watermark bounding
    * state and late data.
    */
  def tumbling(events: DataFrame, watermarkDelay: String = "10 minutes",
      windowLength: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("cnt"), Exact.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Streaming gap-based sessionization — the streaming twin of the
    * batch q38 ([[graft.operators.Temporal.qSessionize]]): a session
    * closes when its key sees no event for `gap`, and emits once the
    * watermark passes the session end. State is O(open sessions), merged
    * by Spark's session-window operator as adjacent events arrive.
    */
  def sessionized(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** Sliding-window variant (overlapping windows). */
  def sliding(events: DataFrame, windowLength: String = "1 hour",
      slide: String = "30 minutes", watermarkDelay: String = "10 minutes")
      : DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("cnt"))

  /** Streaming per-window top-k — the continuous twin of the batch
    * grouped top-k (q55): the k busiest event types of each closed
    * event-time window. Ranking needs the WHOLE window, so it cannot
    * live inside the append-mode streaming aggregation; the standard
    * shape is a two-stage pipeline — the watermarked windowed aggregate
    * emits exactly-once per closed window, and the rank runs as a plain
    * batch window function over each emitted micro-batch (a batch is a
    * set of complete windows, so ranking per batch ≡ ranking per
    * window). Ties break on event_type for determinism.
    */
  def topKPerWindow(events: DataFrame, k: Int = 3,
      watermarkDelay: String = "10 minutes", windowLength: String = "1 hour")(
      onWindow: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    LocalFiles.install(events.sparkSession)
    tumbling(events, watermarkDelay, windowLength)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("window_start"))
          .orderBy(col("cnt").desc, col("event_type").asc)
        onWindow(batch
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .select(col("window_start"), col("rk").cast("long").as("rk"),
            col("event_type"), col("cnt")))
      }
      .start()
  }
}
