package graft.streaming

import graft.operators.TextAnalysis
import graft.sources.Bucketed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of q126's chunk-level dedup: documents arrive
  * continuously, each micro-batch is cut into content-defined chunks
  * (the SAME rolling-hash rule as q82/q126, so stream and batch can
  * never disagree about what a chunk is), probed against a persisted
  * chunk store, and the store is upserted with the batch's novel chunks
  * — the continuous-ingest form of a deduplicating chunk archive.
  *
  * Scale shape: the chunk explosion + per-hash aggregation are map-side
  * over the admission-bounded batch; the store is BUCKETED by chunk
  * hash, so the probe anti-join and the idempotent append shuffle only
  * the tiny batch side (the [[graft.sources.SignatureStore]]
  * discipline); store growth is bounded by DISTINCT chunk volume, not
  * ingest volume.
  *
  * Failure/replay contract: foreachBatch is at-least-once. The STORE
  * stays exact under replay — the append anti-joins the store on `h`,
  * so re-delivered chunks append nothing twice. Per-batch reports carry
  * `batch_id`; a consumer needing exactly-once accounting dedupes on it
  * (a replayed batch may re-report with `chunks_new = 0` once its
  * chunks are stored).
  */
object ChunkStream {

  val Buckets = 16

  final case class Store(table: String)

  /** Per-batch chunk summary: (h, occ, tok) — one row per distinct
    * chunk hash with its occurrence count and token length. Delegates
    * to the ONE shared definition ([[TextAnalysis.chunkSummary]]) so
    * the stream's store can never fork from the gated q126 KPI.
    */
  def chunksOf(docs: DataFrame): DataFrame = TextAnalysis.chunkSummary(docs)

  /** Create (or overwrite) an empty chunk store. */
  def build(s: SparkSession, tag: String): Store = {
    import s.implicits._
    val t = Store(s"graft_chunk_$tag")
    Bucketed.dropStale(s, t.table)
    Bucketed.write(Seq.empty[(Long, Long)].toDF("h", "tok"),
      t.table, Buckets, "h")
    t
  }

  /** Idempotent upsert: append the batch's chunks not already stored
    * (anti-join on `h` — exchange-free on the bucketed store side).
    */
  def append(s: SparkSession, t: Store, chunks: DataFrame): Unit =
    chunks.select(col("h"), col("tok"))
      .join(s.table(t.table).select(col("h")), Seq("h"), "left_anti")
      .write.bucketBy(Buckets, "h").sortBy("h")
      .mode("append").saveAsTable(t.table)

  /** Store-level KPI — the q126 columns derivable from the store alone. */
  def stats(s: SparkSession, t: Store): DataFrame =
    s.table(t.table).agg(
      count(lit(1)).as("chunks_distinct"),
      coalesce(sum(col("tok")), lit(0L)).as("tokens_distinct"))

  /** The incremental front door: per micro-batch, chunk + probe +
    * report + upsert. `onBatch` receives ONE report row per non-empty
    * batch: (batch_id, chunks_total, chunks_new, tokens_total,
    * tokens_new) where `new` counts chunks absent from the store BEFORE
    * this batch (probe-then-append, the CurationStream order: a batch's
    * chunks are visible to the NEXT batch's probe, never its own).
    *
    * @param compactEvery see [[Sinks.ingest]]; the compaction is
    *   [[Bucketed.compact]] on the store
    */
  def startIncremental(spark: SparkSession, docs: DataFrame, store: Store,
      checkpointDir: String, onBatch: DataFrame => Unit,
      compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, docs, checkpointDir, Seq(store.table), compactEvery,
        () => Bucketed.compact(spark, store.table, Buckets, "h"),
        Some(chunksOf)) { (ch, batchId) =>
      val flagged = ch.join(
          spark.table(store.table).select(col("h"), lit(1).as("stored")),
          Seq("h"), "left").persist()
      try {
        // the report is collected before the append mutates the store
        // (the lazy-frame rule, Sinks.collected)
        onBatch(Sinks.collected(spark, flagged.agg(
          lit(batchId).as("batch_id"),
          sum(col("occ")).as("chunks_total"),
          count(when(col("stored").isNull, 1)).as("chunks_new"),
          sum(col("occ") * col("tok")).as("tokens_total"),
          coalesce(sum(when(col("stored").isNull, col("tok"))), lit(0L))
            .as("tokens_new"))))
        // `flagged.filter(stored IS NULL)` IS the anti-join result
        // against the pre-append store — write it directly instead of
        // routing through append()'s anti-join (which would scan the
        // growing store a second time per trigger). Replay-safe: a
        // re-delivered batch recomputes the filter against the
        // post-append store and writes nothing.
        flagged.filter(col("stored").isNull).select(col("h"), col("tok"))
          .write.bucketBy(Buckets, "h").sortBy("h")
          .mode("append").saveAsTable(store.table)
        // the append runs through the micro-batch session clone and
        // relation caches are per-session: refresh the coordinating
        // session's view so the next probe and any stats() reader see
        // this batch's files (the ProductQuant.appendFresh rule)
        spark.catalog.refreshTable(store.table)
      } finally flagged.unpersist()
    }
}
