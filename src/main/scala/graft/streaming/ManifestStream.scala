package graft.streaming

import graft.functions.PolyHash
import graft.operators.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of q164's shard-checksum manifest: documents arrive
  * continuously, each micro-batch's per-shard manifest (the SAME
  * definition as the gated query — [[Corpus.shardManifest]]) is folded
  * into a persisted manifest store, so the reproducibility artifact a
  * training job diffs against (q170) is maintained DURING ingest instead
  * of recomputed by a full corpus pass — at 100 TB the batch q164 scan
  * is exactly the job this front door amortizes away.
  *
  * Folding is exact because every manifest field is additive: doc and
  * token counts sum, and the checksum is a modular sum — `Σ mod P` per
  * batch re-summed mod P equals the corpus checksum (mod is a ring
  * homomorphism), so the streamed store collapses to BIT-IDENTICAL
  * q164 output (`ManifestStreamSpec` pins it via a zero-row q170-style
  * diff against the batch manifest).
  *
  * Scale shape: the per-batch manifest is one map + 4096-group agg over
  * the admission-bounded batch; the STORE is manifest-sized (≤ 4096
  * rows per fold, corpus-size-independent) and row-collapsing
  * compaction bounds it over the stream's lifetime. Nothing in the
  * trigger path scales with ingested volume.
  *
  * Failure/replay contract: the [[FoldStore]] guard, with the merge
  * re-summing the checksum mod P — exact by the same homomorphism the
  * fold relies on, so compaction's baseline row-set keeps the manifest
  * bit-identical.
  */
object ManifestStream {

  type Store = FoldStore

  /** Create (or overwrite) an empty manifest store. */
  def build(s: SparkSession, tag: String): Store =
    FoldStore(s"graft_manifest_$tag", bucket = "shard",
      schema = "shard bigint, n_docs bigint, n_tok bigint, checksum bigint",
      keys = Seq("shard"),
      merge = Seq(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tok")).as("n_tok"),
        (sum(col("checksum")) % PolyHash.P).as("checksum"))).build(s)

  /** The store collapsed to the corpus manifest — the exact frame the
    * gated q164 computes from raw documents.
    */
  def manifest(s: SparkSession, t: Store): DataFrame = t.merged(s)

  /** The incremental front door ([[FoldStore.start]]): per micro-batch,
    * manifest + guarded fold. `onBatch` receives a ONE-ROW summary
    * (batch_id, shards touched, docs, tokens) of this batch's fold.
    *
    * @param compactEvery see [[Sinks.ingest]]
    */
  def startIncremental(spark: SparkSession, docs: DataFrame, store: Store,
      checkpointDir: String, onBatch: DataFrame => Unit = _ => (),
      compactEvery: Int = 0): StreamingQuery =
    store.start(spark, docs, checkpointDir, onBatch, compactEvery)(
      Corpus.shardManifest, batchId => spark.table(store.table)
        .filter(col("ckpt") === checkpointDir && col("batch_id") === batchId)
        .agg(count(lit(1)).as("shards_touched"),
          sum(col("n_docs")).as("n_docs"), sum(col("n_tok")).as("n_tok")))
}
