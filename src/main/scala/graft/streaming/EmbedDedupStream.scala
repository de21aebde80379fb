package graft.streaming

import graft.functions.Exact
import graft.sources.EmbedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming front door for the semantic-dedup vector store — SemDeDup
  * on ingest (the [[WinnowStream]] pattern applied to q227's embedding
  * family): each arriving (vec_id, embedding) micro-batch is quantized
  * (the ONE [[Exact.quantize]] definition the trained layout uses),
  * PROBED against the persisted store first ([[EmbedStore.probe]] —
  * candidates only from the (cell, subgroup) equi-join, the store never
  * shuffled), vectors within cosine ≥ τ of an already-stored vector are
  * flagged and withheld, and only the survivors append. Probe-then-
  * append order guarantees a batch's survivors are visible to the NEXT
  * batch but never to their own probe (no self-pairs); replay stability
  * and append idempotency are the store's contracts.
  *
  * With `withhold = false` nothing is dropped and the stream is a pure
  * incremental assignment-store build: after full ingest,
  * [[EmbedStore.verdicts]] over the store is bit-identical to the gated
  * batch q227 (EmbedDedupStreamSpec pins it through the checkpointed
  * foreachBatch path).
  */
object EmbedDedupStream {

  /** @param vecs streaming (vec_id, embedding) frame
    * @param cents the trained codebook (the layout the caller owns —
    *   `Similarity.ensureTrained`)
    * @param onFlagged per batch, the withheld vectors' verdicts
    *   (vec_id, dup_of, n_dups)
    * @param onBatch per batch, the surviving (appended) vec_ids
    * @param withhold false = index-build mode (probe skipped entirely,
    *   the WinnowStream dropShared = MaxValue rule — [[Sinks.withhold]])
    * @param compactEvery see [[Sinks.ingest]]; the compaction is
    *   [[KeyedStore.compact]]
    */
  def startIncremental(spark: SparkSession, vecs: DataFrame,
      cents: Seq[Seq[Long]], store: EmbedStore.Store, checkpointDir: String,
      onBatch: DataFrame => Unit,
      onFlagged: DataFrame => Unit = _ => (),
      withhold: Boolean = true,
      compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, vecs, checkpointDir, store.keyed.names,
        compactEvery, () => store.keyed.compact(spark),
        Some(_.select(col("vec_id"),
          Exact.quantize(col("embedding")).as("qe")))) { (b, _) =>
      Sinks.withhold(spark, b, "vec_id",
        Option.when(withhold)(EmbedStore.probe(spark, store, cents, b)),
        _.select(col("vec_id")),
        EmbedStore.append(spark, store, cents, _),
        onFlagged, onBatch)
    }
}
