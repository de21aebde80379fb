package graft.streaming

import graft.operators.ProductQuant
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous-ingest front door for the IVF-PQ codes store — the third
  * persisted layout's incremental path, beside [[CurationStream]]
  * (signature store) and [[EmbeddingStream]] (sign-LSH index): new
  * embeddings arrive as a stream and each micro-batch is encoded under
  * FROZEN codebooks (quantize → IVF-assign → PQ-encode, one map-side
  * pass) and idempotently appended to the cid-partitioned codes table,
  * so q74's probe covers them with no retrain and no rebuild.
  *
  * Freezing the codebooks is the standard IVF-PQ serving discipline:
  * codes are only comparable under the codebooks that produced them, so
  * ingest never touches training — drift is handled by a periodic
  * RETRAIN + full re-encode (a new table swapped in, exactly the batch
  * [[ProductQuant.build]]), not by mutating the live index. That also
  * makes the incrementally-built store bit-identical to a batch build
  * over the same vectors, which is what the spec pins.
  *
  * Failure/replay contract: foreachBatch is at-least-once; a replayed
  * batch re-encodes to identical rows and
  * [[ProductQuant.appendFresh]]'s vec_id anti-join appends none of them
  * twice.
  *
  * @param emb streaming DataFrame with (vec_id, embedding)
  * @param compactEvery see [[Sinks.ingest]]; the compaction is
  *            [[graft.sources.Bucketed.compactPartitioned]] on `cid`
  */
object PqStream {

  def startIncremental(spark: SparkSession, emb: DataFrame, table: String,
      checkpointDir: String, cents: Seq[Seq[Long]],
      cb: Seq[Seq[Seq[Long]]], compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, emb, checkpointDir, Seq(table), compactEvery,
        () => graft.sources.Bucketed.compactPartitioned(spark, table, "cid")) {
      (batch, _) => ProductQuant.appendFresh(spark, table, batch, cents, cb)
    }
}
