package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming front door for the span-evidence layout
  * ([[graft.operators.SpanStore]]): documents arrive continuously, each
  * micro-batch's NEW documents have their distinct 8-word span hashes
  * extracted (the SAME [[Dedup.spanHashes]] rule as the batch store, so
  * stream and batch can never disagree about what a span is) and
  * appended to a persisted h-bucketed span table. Before this, the span
  * index was the one persisted layout without an incremental ingest twin
  * — an appended corpus re-flushed it from scratch.
  *
  * Layout: TWO bucketed tables — the span table (doc_id, h) bucketed by
  * `h` (aligned with every downstream span equi-join: q59-style pairing,
  * q121 containment, q125 source overlap), and a doc-id MANIFEST
  * bucketed by doc_id that makes the append idempotent: a replayed
  * batch anti-joins the manifest and contributes nothing. The manifest
  * is the 100 TB-shaped answer to "which docs are already indexed?" —
  * probing the span table itself for doc_ids would scan the store per
  * trigger; the manifest probe shuffles only the admission-bounded batch
  * against a bucketed scan.
  *
  * Span DF is computed AT READ ([[spans]] re-aggregates per `h` and
  * joins back, the exact batch-build shape): document frequency is a
  * corpus-global statistic that every append shifts, so materializing it
  * per row would invalidate the whole store on each batch. The read
  * costs one self-agg + join on the table's own bucket key — no
  * exchange on the store side.
  *
  * Replay and the spans-before-manifest crash window are the
  * [[KeyedStore]] contract; until [[KeyedStore.compact]] heals a
  * duplicated batch, df is inflated for its hashes.
  */
object SpanStream {

  val Buckets = 16

  final case class Store(spanTable: String, docTable: String) {
    /** `spanTable` the child, `docTable` the manifest, keyed on `doc_id`. */
    def keyed: KeyedStore = KeyedStore(Seq("doc_id"), Seq(
      KeyedStore.Table(spanTable, Buckets, "h"),
      KeyedStore.Table(docTable, Buckets, "doc_id")))
  }

  /** Per-doc distinct span hashes — the ONE shared definition with the
    * batch store ([[Dedup.spanHashes]]).
    */
  def spansOf(docs: DataFrame): DataFrame = Dedup.spanHashes(docs)

  /** Create (or overwrite) an empty span store. */
  def build(s: SparkSession, tag: String): Store = {
    import s.implicits._
    val t = Store(s"graft_span_$tag", s"graft_span_docs_$tag")
    t.keyed.build(s, Seq(Seq.empty[(Long, Long)].toDF("doc_id", "h"),
      Seq.empty[Long].toDF("doc_id")))
    t
  }

  /** Ingest a (doc_id, text) batch through [[KeyedStore.append]]: docs
    * already in the manifest append nothing, so it is safe to call again
    * with the same batch.
    */
  def append(s: SparkSession, t: Store, docs: DataFrame): Unit =
    t.keyed.append(s, docs.select(col("doc_id"), col("text")))(d =>
      Seq(spansOf(d), d.select(col("doc_id"))))

  /** The store in the batch [[graft.operators.SpanStore]] layout
    * (doc_id, h, df) — df re-derived from the current span set, so the
    * frame is bit-identical to what the batch build over the same
    * documents produces (SpanStreamSpec pins this).
    */
  def spans(s: SparkSession, t: Store): DataFrame = {
    val sp = s.table(t.spanTable)
    sp.join(sp.groupBy(col("h")).agg(count(lit(1)).as("df")), Seq("h"))
  }

  /** The incremental front door: per micro-batch, idempotent ingest,
    * through [[Sinks.ingest]] with [[KeyedStore.compact]] as its
    * compaction.
    */
  def startIncremental(spark: SparkSession, docs: DataFrame, store: Store,
      checkpointDir: String, compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, docs, checkpointDir, store.keyed.names, compactEvery,
        () => store.keyed.compact(spark)) { (batch, _) =>
      append(spark, store, batch)
    }
}
