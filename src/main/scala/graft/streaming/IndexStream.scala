package graft.streaming

import graft.sources.IndexStore
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
  * the ingest runs. Replay and the crash window are the
  * [[KeyedStore]] contract.
  */
object IndexStream {

  /** @param compactEvery see [[Sinks.ingest]]; the compaction is
    *   [[KeyedStore.compact]]
    */
  def startIncremental(spark: SparkSession, docs: DataFrame,
      store: IndexStore.Store, checkpointDir: String,
      compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, docs, checkpointDir, store.keyed.names, compactEvery,
        () => store.keyed.compact(spark)) { (batch, _) =>
      IndexStore.append(spark, store, batch)
    }
}
