package graft.streaming

import graft.operators.TextAnalysis
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
  * the tiny batch side; store growth is bounded by DISTINCT chunk
  * volume, not ingest volume.
  *
  * Failure/replay contract: the store is a one-table [[KeyedStore]]
  * keyed on `h`, so re-delivered chunks append nothing. Per-batch
  * reports carry `batch_id`; a consumer needing exactly-once accounting
  * dedupes on it (a replayed batch may re-report with `chunks_new = 0`
  * once its chunks are stored).
  */
object ChunkStream {

  val Buckets = 16

  final case class Store(table: String) {
    /** The chunk table, its own manifest, keyed on `h`. */
    def keyed: KeyedStore =
      KeyedStore(Seq("h"), Seq(KeyedStore.Table(table, Buckets, "h")))
  }

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
    t.keyed.build(s, Seq(Seq.empty[(Long, Long)].toDF("h", "tok")))
    t
  }

  /** The stored rows of the [[KeyedStore.fresh]] chunks. */
  def rows(fresh: DataFrame): Seq[DataFrame] =
    Seq(fresh.select(col("h"), col("tok")))

  /** Store-level KPI — the q126 columns derivable from the store alone. */
  def stats(s: SparkSession, t: Store): DataFrame =
    s.table(t.table).agg(
      count(lit(1)).as("chunks_distinct"),
      coalesce(sum(col("tok")), lit(0L)).as("tokens_distinct"))

  /** The incremental front door: per micro-batch, chunk, then
    * [[KeyedStore.append]] with the report taken between the probe and
    * the commit. `onBatch` receives ONE report row per non-empty batch:
    * (batch_id, chunks_total, chunks_new, tokens_total, tokens_new)
    * where `new` counts chunks absent from the store BEFORE this batch
    * (probe-then-append, the CurationStream order: a batch's chunks are
    * visible to the NEXT batch's probe, never its own).
    *
    * @param compactEvery see [[Sinks.ingest]]; the compaction is
    *   [[KeyedStore.compact]]
    */
  def startIncremental(spark: SparkSession, docs: DataFrame, store: Store,
      checkpointDir: String, onBatch: DataFrame => Unit,
      compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, docs, checkpointDir, store.keyed.names, compactEvery,
        () => store.keyed.compact(spark), Some(chunksOf)) { (ch, batchId) =>
      store.keyed.append(spark, ch) { fresh =>
        // collected before the commit mutates the store (Sinks.collected)
        onBatch(Sinks.collected(spark, ch
          .select(col("occ"), col("tok"), lit(false).as("new"))
          .unionByName(
            fresh.select(col("occ"), col("tok"), lit(true).as("new")))
          .agg(lit(batchId).as("batch_id"),
            sum(when(!col("new"), col("occ"))).as("chunks_total"),
            count(when(col("new"), 1)).as("chunks_new"),
            sum(when(!col("new"), col("occ") * col("tok")))
              .as("tokens_total"),
            coalesce(sum(when(col("new"), col("tok"))), lit(0L))
              .as("tokens_new"))))
        rows(fresh)
      }
    }
}
