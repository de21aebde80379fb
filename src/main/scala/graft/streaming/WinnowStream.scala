package graft.streaming

import graft.operators.Dedup
import graft.sources.WinnowStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming front door for the winnowing-fingerprint store — MOSS-style
  * dedup-on-ingest (the CurationStream pattern applied to q213's local
  * near-dup family): each arriving micro-batch is PROBED against the
  * persisted fingerprint store first ([[WinnowStore.probe]] — every
  * exchange batch-sized, the store never shuffled), documents sharing at
  * least `dropShared` cap-surviving fingerprints with an already-stored
  * document are flagged and withheld, and only the survivors'
  * fingerprints are appended. Probe-then-append order guarantees a
  * batch's survivors are visible to the NEXT batch but never to their
  * own probe (no self-pairs); replay stability and append idempotency
  * are the store's own contracts (WinnowStoreSpec).
  *
  * With `dropShared = Long.MaxValue` nothing is withheld and the stream
  * is a pure incremental index build: after full ingest,
  * [[WinnowStore.pairs]] over the store is bit-identical to the gated
  * batch q213 (WinnowStreamSpec pins it through the checkpointed
  * foreachBatch path).
  */
object WinnowStream {

  /** @param onFlagged per batch, the withheld documents' verdicts
    *   (doc_id, dup_of, shared, nfp_new)
    * @param onBatch per batch, the surviving (appended) doc_ids
    * @param dropShared withhold a doc when some stored doc shares ≥ this
    *   many fingerprints with it (default: the q213 pair rule);
    *   `Long.MaxValue` = never withhold
    * @param compactEvery see [[Sinks.ingest]]; the compaction is
    *   [[KeyedStore.compact]]
    */
  def startIncremental(spark: SparkSession, docs: DataFrame,
      store: WinnowStore.Store, checkpointDir: String,
      onBatch: DataFrame => Unit,
      onFlagged: DataFrame => Unit = _ => (),
      dropShared: Long = Dedup.WinnowMinShared,
      compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, docs, checkpointDir, store.keyed.names,
        compactEvery, () => store.keyed.compact(spark),
        Some(identity)) { (b, _) =>
      Sinks.withhold(spark, b, "doc_id",
        if (dropShared == Long.MaxValue) None
        else Some(WinnowStore
          .probe(spark, store, b.select(col("doc_id"), col("text")))
          .filter(col("shared") >= dropShared)),
        _.select(col("doc_id")).distinct(),
        f => WinnowStore.append(spark, store,
          f.select(col("doc_id"), col("text"))),
        onFlagged, onBatch)
    }
}
