package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous-ingest front door for the clustered-at-rest SERVING
  * layout — the missing fourth index path beside [[CurationStream]]
  * (signature store), [[EmbeddingStream]] (sign-LSH index) and
  * [[PqStream]] (IVF-PQ codes): without it, vectors streamed into the
  * other indexes never become visible to q26c/q143/[[RetrievalStream]]
  * serving or to q74's exact re-rank, which all read the full-vector
  * clustered table. New embeddings arrive as a stream and each
  * micro-batch is assigned its IVF cluster under the FROZEN codebook
  * (one map-side quantize/argmax pass) and idempotently appended to
  * the cid-partitioned layout — the next serving trigger's pruned scan
  * covers them with no retrain and no rebuild.
  *
  * Codebook freezing is the same serving discipline PqStream documents:
  * cluster ids are only comparable under the codebook that assigned
  * them, so ingest never touches training; drift is handled by a
  * periodic retrain + full re-cluster swapped in as a new table (the
  * batch [[Similarity.ensureClustered]]), not by mutating the live
  * layout. The incrementally-built table is therefore bit-identical to
  * a batch build over the same vectors — what [[AnnStreamSpec]] pins.
  *
  * Failure/replay contract: foreachBatch is at-least-once; a replayed
  * batch re-assigns to identical rows and
  * [[Similarity.appendClustered]]'s vec_id anti-join appends none of
  * them twice.
  *
  * @param emb   streaming DataFrame with (vec_id, embedding)
  * @param table clustered-layout table ([[Similarity.buildClusteredEmpty]]
  *              or an existing batch build)
  * @param cents the frozen trained codebook
  * @param compactEvery see [[Sinks.ingest]]; the compaction is
  *              [[graft.sources.Bucketed.compactPartitioned]] on `cid`
  */
object AnnStream {

  def startIncremental(spark: SparkSession, emb: DataFrame, table: String,
      checkpointDir: String, cents: Seq[Seq[Long]],
      compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, emb, checkpointDir, Seq(table), compactEvery,
        () => graft.sources.Bucketed.compactPartitioned(spark, table, "cid")) {
      (batch, _) => Similarity.appendClustered(spark, table, batch, cents)
    }
}
