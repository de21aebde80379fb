package graft.streaming

import graft.sources.{Bucketed, IndexStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ingest for the inverted index ([[IndexStore]]): documents
  * arrive continuously and each micro-batch's novel docs are tokenized
  * and appended to the posting-list layout — the lexical serving stack's
  * incremental path, completing the front-door family (signatures,
  * sign-LSH, PQ codes, clustered vectors, spans, chunks, graph labels,
  * drift histograms, and now postings).
  *
  * Scale shape: the per-batch tokenize + tf agg is map-side over the
  * admission-bounded batch; the manifest anti-join shuffles only the
  * batch side (the store is doc_id-bucketed); the postings append lands
  * in tok-buckets so the q154 serving probe stays pruned however long
  * the ingest runs.
  *
  * Failure/replay contract: foreachBatch is at-least-once; the manifest
  * doc_id anti-join makes re-delivered docs append nothing. The
  * postings-before-manifest crash window duplicates postings rows
  * EXACTLY (never drops a doc); the periodic [[Bucketed.compactDistinct]]
  * in the compaction hook heals them (the SpanStream discipline —
  * documented at [[IndexStore.append]]).
  */
object IndexStream {

  /** @param compactEvery see [[Sinks.ingest]]; the compaction is
    *   [[Bucketed.compactDistinct]] on the postings (which also heals
    *   crash-window duplicate postings rows) and [[Bucketed.compact]]
    *   on the manifest
    */
  def startIncremental(spark: SparkSession, docs: DataFrame,
      store: IndexStore.Store, checkpointDir: String,
      compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, docs, checkpointDir,
        Seq(store.postings, store.manifest), compactEvery, () => {
          Bucketed.compactDistinct(spark, store.postings,
            IndexStore.Buckets, "tok")
          Bucketed.compact(spark, store.manifest,
            IndexStore.Buckets, "doc_id")
        }) { (batch, _) => IndexStore.append(spark, store, batch) }
}
