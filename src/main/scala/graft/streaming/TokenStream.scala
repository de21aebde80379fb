package graft.streaming

import graft.operators.Corpus
import graft.sources.Bucketed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of q203's token-id shard materialization: documents
  * arrive continuously, each micro-batch runs the trained BPE merge
  * chain EXACTLY ONCE (the expensive half of q203 — word explode →
  * codegen'd literal replaces → per-doc positions), and the resulting
  * (source, doc_id, tok, tok_idx) rows are appended to a persisted
  * token store. The tensor-ready shard view ([[shards]]) applies q203's
  * arrival-order-insensitive addressing (two-level pack offsets +
  * lexicographic vocabulary) AT READ TIME over the store, so the served
  * frame is bit-identical to running batch q203 over everything
  * ingested so far — without ever re-tokenizing a document
  * (TokenStreamSpec pins the equivalence).
  *
  * Why addressing is a view and not state: seq_id/pos_in_seq and the
  * lexicographic token_id are GLOBAL-ORDER artifacts — one new document
  * (or one unseen subword) shifts every address behind it. Storing them
  * would force a history rewrite per trigger; the store instead holds
  * only the per-doc token stream, which is append-only and
  * arrival-order-free, and the addressing runs over per-doc COUNTS
  * (docs-sized, not token-sized) plus a catalog-sized vocabulary.
  *
  * Scale shape: tokenization is map-side over the admission-bounded
  * batch (one window per doc for tok_idx, partitioned by doc); the
  * store is BUCKETED by doc_id, so the idempotence probe anti-joins
  * exchange-free on the store side and the append shuffles only the
  * tiny batch side (the SignatureStore discipline). Store growth is one
  * row per token — the artifact itself, not bookkeeping.
  *
  * Failure/replay contract: foreachBatch is at-least-once. The store
  * stays exact under replay — a document's rows are written all-or-none
  * and the probe anti-joins on doc_id, so a re-delivered batch appends
  * nothing twice. Per-batch reports carry `batch_id`; a replayed batch
  * may re-report with `docs_new = 0` once its documents are stored.
  */
object TokenStream {

  val Buckets = 16

  final case class Store(table: String)

  /** Create (or overwrite) an empty token store. */
  def build(s: SparkSession, tag: String): Store = {
    import s.implicits._
    val t = Store(s"graft_tok_$tag")
    Bucketed.dropStale(s, t.table)
    Bucketed.write(
      Seq.empty[(String, Long, String, Long)]
        .toDF("source", "doc_id", "tok", "tok_idx"),
      t.table, Buckets, "doc_id")
    t
  }

  /** Idempotent upsert: append the token rows of batch documents not
    * already stored (anti-join on doc_id — exchange-free on the bucketed
    * store side; a document's rows land all-or-none).
    */
  def append(s: SparkSession, t: Store, toks: DataFrame): Unit =
    toks.join(s.table(t.table).select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select(col("source"), col("doc_id"), col("tok"), col("tok_idx"))
      .write.bucketBy(Buckets, "doc_id").sortBy("doc_id")
      .mode("append").saveAsTable(t.table)

  /** The tensor-ready shard view over everything ingested so far —
    * q203's (source, seq_id, pos_in_seq, doc_id, token_id) rows,
    * bit-identical to the batch pipeline over the same corpus.
    */
  def shards(s: SparkSession, t: Store, budget: Long): DataFrame =
    Corpus.addressToks(
      s.table(t.table)
        .select(col("source"), col("doc_id"), col("tok"), col("tok_idx")),
      budget)

  /** The incremental front door: per micro-batch, tokenize once + probe
    * + report + upsert. `onBatch` receives ONE report row per non-empty
    * batch: (batch_id, docs_total, docs_new, tokens_new) where `new`
    * counts documents/tokens absent from the store BEFORE this batch
    * (probe-then-append, the CurationStream order: a batch's documents
    * are visible to the NEXT batch's probe, never its own).
    *
    * @param compactEvery see [[Sinks.ingest]]; the compaction is
    *   [[Bucketed.compact]] on the store
    */
  def startIncremental(spark: SparkSession, docs: DataFrame,
      merges: Seq[(Long, String, String, Long)], store: Store,
      checkpointDir: String, onBatch: DataFrame => Unit,
      compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, docs, checkpointDir, Seq(store.table), compactEvery,
        () => Bucketed.compact(spark, store.table, Buckets, "doc_id"),
        Some(Corpus.tokenize(_, merges))) { (toks, batchId) =>
      val flagged = toks.join(
          spark.table(store.table).select(col("doc_id")).distinct()
            .withColumn("stored", lit(1)),
          Seq("doc_id"), "left").persist()
      try {
        // the report is collected before the append mutates the store
        // (the lazy-frame rule, Sinks.collected)
        onBatch(Sinks.collected(spark, flagged.agg(
          lit(batchId).as("batch_id"),
          countDistinct(col("doc_id")).as("docs_total"),
          countDistinct(when(col("stored").isNull, col("doc_id")))
            .as("docs_new"),
          count(when(col("stored").isNull, 1)).as("tokens_new"))))
        // `flagged.filter(stored IS NULL)` IS the anti-join result
        // against the pre-append store — write it directly instead of
        // probing the growing store a second time per trigger.
        // Replay-safe: a re-delivered batch recomputes the filter
        // against the post-append store and writes nothing.
        flagged.filter(col("stored").isNull)
          .select(col("source"), col("doc_id"), col("tok"), col("tok_idx"))
          .write.bucketBy(Buckets, "doc_id").sortBy("doc_id")
          .mode("append").saveAsTable(store.table)
        // the append runs through the micro-batch session clone and
        // relation caches are per-session: refresh the coordinating
        // session's view so the next probe and any shards() reader see
        // this batch's files (the ProductQuant.appendFresh rule)
        spark.catalog.refreshTable(store.table)
      } finally flagged.unpersist()
    }
}
