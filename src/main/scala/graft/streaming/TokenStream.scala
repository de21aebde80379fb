package graft.streaming

import graft.operators.Corpus
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
  * tiny batch side. Store growth is one row per token — the artifact
  * itself, not bookkeeping.
  *
  * Failure/replay contract: the store is a one-table [[KeyedStore]]
  * keyed on `doc_id` — a document's rows are written all-or-none, so a
  * re-delivered batch appends nothing twice. Per-batch reports carry
  * `batch_id`; a replayed batch may re-report with `docs_new = 0` once
  * its documents are stored.
  */
object TokenStream {

  val Buckets = 16

  final case class Store(table: String) {
    /** The token table, its own manifest, keyed on `doc_id`. */
    def keyed: KeyedStore = KeyedStore(Seq("doc_id"),
      Seq(KeyedStore.Table(table, Buckets, "doc_id")))
  }

  private val Columns = Seq("source", "doc_id", "tok", "tok_idx")

  /** Create (or overwrite) an empty token store. */
  def build(s: SparkSession, tag: String): Store = {
    import s.implicits._
    val t = Store(s"graft_tok_$tag")
    t.keyed.build(s, Seq(
      Seq.empty[(String, Long, String, Long)].toDF(Columns: _*)))
    t
  }

  /** The stored rows of the [[KeyedStore.fresh]] token rows. */
  def rows(fresh: DataFrame): Seq[DataFrame] =
    Seq(fresh.select(Columns.map(col): _*))

  /** The tensor-ready shard view over everything ingested so far —
    * q203's (source, seq_id, pos_in_seq, doc_id, token_id) rows,
    * bit-identical to the batch pipeline over the same corpus.
    */
  def shards(s: SparkSession, t: Store, budget: Long): DataFrame =
    Corpus.addressToks(s.table(t.table).select(Columns.map(col): _*), budget)

  /** The incremental front door: per micro-batch, tokenize once, then
    * [[KeyedStore.append]] with the report taken between the probe and
    * the commit. `onBatch` receives ONE report row per non-empty batch:
    * (batch_id, docs_total, docs_new, tokens_new) where `new` counts
    * documents/tokens absent from the store BEFORE this batch
    * (probe-then-append, the CurationStream order: a batch's documents
    * are visible to the NEXT batch's probe, never its own).
    *
    * @param compactEvery see [[Sinks.ingest]]; the compaction is
    *   [[KeyedStore.compact]]
    */
  def startIncremental(spark: SparkSession, docs: DataFrame,
      merges: Seq[(Long, String, String, Long)], store: Store,
      checkpointDir: String, onBatch: DataFrame => Unit,
      compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, docs, checkpointDir, store.keyed.names, compactEvery,
        () => store.keyed.compact(spark),
        Some(Corpus.tokenize(_, merges))) { (toks, batchId) =>
      store.keyed.append(spark, toks) { fresh =>
        // collected before the commit mutates the store (Sinks.collected)
        onBatch(Sinks.collected(spark, toks
          .select(col("doc_id"), lit(false).as("new"))
          .unionByName(fresh.select(col("doc_id"), lit(true).as("new")))
          .agg(lit(batchId).as("batch_id"),
            countDistinct(when(!col("new"), col("doc_id"))).as("docs_total"),
            countDistinct(when(col("new"), col("doc_id"))).as("docs_new"),
            count(when(col("new"), 1)).as("tokens_new"))))
        rows(fresh)
      }
    }
}
