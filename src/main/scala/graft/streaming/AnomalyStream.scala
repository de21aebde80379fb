package graft.streaming

import graft.operators.Temporal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of q214's EWMA anomaly bands: events arrive
  * continuously, each micro-batch contributes its bounded
  * (event_type, day) → count summary (the q214 input is ADDITIVE —
  * summaries of disjoint event slices merge by per-cell sum), and the
  * persisted count store serves the exact per-type anomaly board at any
  * moment — the live "did today spike" monitor an ops channel pages on,
  * fed at grid cost (≤ types × days-touched rows per batch, never event
  * volume).
  *
  * Serving ([[serve]]) is the SAME `Temporal.ewmaFromCounts` fold the
  * gated q214 runs over its flushed counts — one definition, so the
  * streamed and batch boards can never fork (AnomalyStreamSpec pins the
  * bit-equality after a multi-batch ingest). Note the EWMA recurrence is
  * deliberately NOT folded incrementally per trigger: the recurrence
  * walks the FULL day grid, and a late-arriving event for an old day
  * changes every later state — re-running the fold over the merged
  * count store (a days×types frame, corpus-size-independent) is both
  * exact under late data and O(grid) per trigger, forever.
  *
  * Failure/replay contract: the [[FoldStore]] guard, with SUM as the
  * merge — for additive counts the guard IS exactness (a double-fold
  * would double-count events and shift every EWMA state after the first
  * duplicate). Compaction collapses committed history to the merged
  * counts, keeping the store bounded by day-grid size, not batch count.
  */
object AnomalyStream {

  type Store = FoldStore

  /** Create (or overwrite) an empty count store. */
  def build(s: SparkSession, tag: String): Store =
    FoldStore(s"graft_anom_$tag", bucket = "event_type",
      schema = "event_type string, day bigint, x bigint",
      keys = Seq("event_type", "day"),
      merge = Seq(sum(col("x")).as("x"))).build(s)

  /** The bounded day-count summary of one (event_type, ts) batch — the
    * q214 construction on the batch slice, one shared definition.
    */
  def batchGrid(batch: DataFrame): DataFrame = Temporal.eventDayCounts(batch)

  /** The merged (event_type, day, x) counts over everything ingested —
    * identical to q214's flushed counts over the union of the batches.
    */
  def mergedCounts(s: SparkSession, t: Store): DataFrame = t.merged(s)

  /** The per-type anomaly board — q214's exact fold over the store's
    * merged counts.
    */
  def serve(s: SparkSession, t: Store): DataFrame =
    Temporal.ewmaFromCounts(mergedCounts(s, t))

  /** The incremental front door ([[FoldStore.start]]): per micro-batch,
    * bounded day-count summary + guarded fold + the full q214 board.
    *
    * @param compactEvery see [[Sinks.ingest]]
    */
  def startIncremental(spark: SparkSession, events: DataFrame, store: Store,
      checkpointDir: String, onBatch: DataFrame => Unit,
      compactEvery: Int = 0): StreamingQuery =
    store.start(spark, events, checkpointDir, onBatch, compactEvery)(
      batchGrid, _ => serve(spark, store))
}
