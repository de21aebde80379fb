package graft.streaming

import graft.sources.EmbeddingIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous-ingest front door for the persisted embedding index — the
  * embedding twin of [[CurationStream.startIncremental]]'s SignatureStore
  * upsert: embeddings arrive as a stream, and each micro-batch is (1)
  * PROBED against the index — verified near-dups of any previously
  * indexed vector are reported, however long ago the twin arrived — and
  * (2) UPSERTED, so later batches probe against it. Nothing ever
  * re-bands the corpus: the probe shuffles only the admission-bounded
  * batch side (the index is bucketed by the band key), the upsert is a
  * map-side quantize/band pass plus a bucketed append.
  *
  * Unlike the text front door (curation FILTERS its corpus), the index
  * front door keeps every vector: an ANN / near-dup index must cover
  * flagged vectors too, so the incrementally-built index is
  * bit-identical to a batch [[EmbeddingIndex.build]] over the same
  * vectors — q52's from-index pairs (oracled against q25's from-raw SQL)
  * are the equivalence check.
  *
  * Failure/replay contract: foreachBatch is at-least-once, so a crash
  * after the append re-delivers the batch. The INDEX stays exact:
  * [[EmbeddingIndex.appendFresh]] is idempotent per vec_id and
  * [[EmbeddingIndex.probe]] excludes the batch's own vec_ids from
  * `dup_of`, so a replay produces the original verdicts and appends
  * nothing twice. A compaction crash self-heals on the replayed
  * compact ([[graft.sources.Bucketed.recover]]).
  *
  * @param emb streaming DataFrame with (vec_id, embedding)
  * @param onFlagged receives each batch's near-dup verdicts
  *                  (vec_id, dup_of, cos_sim)
  * @param compactEvery see [[Sinks.ingest]]; the compaction is
  *                  [[EmbeddingIndex.compact]]
  */
object EmbeddingStream {

  def startIncremental(spark: SparkSession, emb: DataFrame, table: String,
      checkpointDir: String,
      onFlagged: DataFrame => Unit = _ => (),
      compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, emb, checkpointDir, Seq(table), compactEvery,
        () => EmbeddingIndex.compact(spark, table),
        Some(_.select(col("vec_id"), col("embedding")))) { (b, _) =>
      val verdicts = EmbeddingIndex.probe(spark, table, b).persist()
      // probe-then-append order guarantees a batch's vectors are
      // visible to the NEXT batch but never to their own probe
      try {
        onFlagged(verdicts)
        EmbeddingIndex.appendFresh(spark, table, b)
      } finally verdicts.unpersist()
    }
}
