package graft.streaming

import graft.operators.Profiling
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming front door of q194's mergeable HLL register cube: events
  * arrive continuously, each micro-batch contributes its exact daily
  * register summary (per (event_type, day, bucket) the batch max-ρ —
  * ≤ types × days-touched × 64 rows regardless of batch size), and the
  * persisted cube serves q197's rolling 7-day distinct-user report at
  * any moment — the real-time "weekly active users" board fed at sketch
  * cost (an extension beyond the reference surface in the spirit of its
  * metrics tick: continuous observability re-expressed over the data
  * plane; batch twins are q194/q197).
  *
  * Scale shape: the per-batch aggregate is one map-side-combinable max
  * over the admission-bounded batch; the store grows with
  * (batches × registers-touched), never data volume, and compaction
  * collapses committed history to the ≤ types × days × 64 cube. Serving
  * ([[rollingReport]]) is the SAME `Profiling.hllRolling` plan q197
  * gates — register-grid-sized, one definition, so the streamed and
  * batch serves can never fork.
  *
  * Failure/replay contract: the [[FoldStore]] guard, with MAX as the
  * merge. Register max-merge is IDEMPOTENT (max is), which buys this
  * store a property the additive monitors cannot have: serving is
  * invariant under duplicate ingest — re-playing the whole corpus under
  * a fresh checkpoint leaves every report bit-identical. The
  * (ckpt, batch_id) guard is therefore purely a STORE-SIZE bound
  * (replays append nothing), not a correctness dependency, and a
  * fresh-checkpoint restart's colliding batch ids fold harmlessly.
  */
object DistinctStream {

  type Store = FoldStore

  /** Create (or overwrite) an empty register store. */
  def build(s: SparkSession, tag: String): Store =
    FoldStore(s"graft_hll_$tag", bucket = "day",
      schema = "event_type string, day bigint, bucket bigint, r bigint",
      keys = Seq("event_type", "day", "bucket"),
      merge = Seq(max(col("r")).as("r"))).build(s)

  /** The bounded register summary of one batch: per (event_type, day,
    * bucket) the max-ρ over the batch's rows — the q194 register
    * construction on the batch slice. Expects (event_type, user_id,
    * tus) with tus in epoch-µs.
    */
  def batchRegisters(batch: DataFrame): DataFrame =
    Profiling.hllRegisterRows(batch
        .select(col("event_type"), col("user_id"),
          expr("tus div 86400000000").as("day")))
      .groupBy(col("event_type"), col("day"), col("bucket"))
      .agg(max(col("rho")).as("r"))

  /** The current daily cube: max-merge of every stored register row —
    * identical to q194's daily cube over everything ingested so far.
    */
  def dailyCube(s: SparkSession, t: Store): DataFrame = t.merged(s)

  /** The rolling 7-day distinct-user report — q197's exact plan
    * (`Profiling.hllRolling`) over the store's cube.
    */
  def rollingReport(s: SparkSession, t: Store): DataFrame =
    Profiling.hllRolling(dailyCube(s, t))

  /** The incremental front door ([[FoldStore.start]]): per micro-batch,
    * bounded register summary + guarded fold + rolling report.
    *
    * @param compactEvery see [[Sinks.ingest]]
    */
  def startIncremental(spark: SparkSession, events: DataFrame, store: Store,
      checkpointDir: String, onBatch: DataFrame => Unit,
      compactEvery: Int = 0): StreamingQuery =
    store.start(spark, events, checkpointDir, onBatch, compactEvery)(
      batchRegisters, _ => rollingReport(spark, store))
}
