package graft.streaming

import graft.operators.Dedup
import graft.sources.Bucketed
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
  * Failure/replay contract: foreachBatch is at-least-once. Spans append
  * BEFORE the manifest row commits, so a crash between the two appends
  * re-delivers a batch whose spans are stored but unmanifested — the
  * replay then double-appends those docs' spans. [[compact]] heals this
  * (its rewrite is DISTINCT); until it runs, affected span rows are
  * duplicated (df inflated for their hashes). The opposite order would
  * silently LOSE spans of manifested docs, which no compaction can
  * recover — duplication is the recoverable failure, so it is the one
  * this store accepts.
  */
object SpanStream {

  val Buckets = 16

  final case class Store(spanTable: String, docTable: String)

  /** Per-doc distinct span hashes — the ONE shared definition with the
    * batch store ([[Dedup.spanHashes]]).
    */
  def spansOf(docs: DataFrame): DataFrame = Dedup.spanHashes(docs)

  /** Create (or overwrite) an empty span store. */
  def build(s: SparkSession, tag: String): Store = {
    import s.implicits._
    val t = Store(s"graft_span_$tag", s"graft_span_docs_$tag")
    Bucketed.dropStale(s, t.spanTable)
    Bucketed.dropStale(s, t.docTable)
    Bucketed.write(Seq.empty[(Long, Long)].toDF("doc_id", "h"),
      t.spanTable, Buckets, "h")
    Bucketed.write(Seq.empty[Long].toDF("doc_id"),
      t.docTable, Buckets, "doc_id")
    t
  }

  /** Idempotent ingest of one document batch: docs already in the
    * manifest are dropped (anti-join — exchange-free on the bucketed
    * manifest side), the remainder's spans and doc_ids append. Safe to
    * call again with the same batch.
    */
  def append(s: SparkSession, t: Store, docs: DataFrame): Unit = {
    val newDocs = docs.select(col("doc_id"), col("text"))
      .join(s.table(t.docTable), Seq("doc_id"), "left_anti")
      .persist()
    try if (newDocs.limit(1).count() > 0) {
      spansOf(newDocs)
        .write.bucketBy(Buckets, "h").sortBy("h")
        .mode("append").saveAsTable(t.spanTable)
      newDocs.select(col("doc_id"))
        .write.bucketBy(Buckets, "doc_id").sortBy("doc_id")
        .mode("append").saveAsTable(t.docTable)
      // appends execute through the frame's bound session (the
      // micro-batch clone under foreachBatch); refresh the coordinating
      // session so its next probe sees this batch (the ChunkStream /
      // ProductQuant.appendFresh rule)
      s.catalog.refreshTable(t.spanTable)
      s.catalog.refreshTable(t.docTable)
    } finally newDocs.unpersist()
  }

  /** The store in the batch [[graft.operators.SpanStore]] layout
    * (doc_id, h, df) — df re-derived from the current span set, so the
    * frame is bit-identical to what the batch build over the same
    * documents produces (SpanStreamSpec pins this).
    */
  def spans(s: SparkSession, t: Store): DataFrame = {
    val sp = s.table(t.spanTable)
    sp.join(sp.groupBy(col("h")).agg(count(lit(1)).as("df")), Seq("h"))
  }

  /** Collapse per-trigger append files to one file set per bucket and
    * heal any crash-window duplicate span rows (DISTINCT rewrite).
    */
  def compact(s: SparkSession, t: Store): Unit = {
    Bucketed.compactDistinct(s, t.spanTable, Buckets, "h")
    Bucketed.compactDistinct(s, t.docTable, Buckets, "doc_id")
  }

  /** The incremental front door: per micro-batch, idempotent ingest,
    * through [[Sinks.ingest]] with [[compact]] as its compaction.
    */
  def startIncremental(spark: SparkSession, docs: DataFrame, store: Store,
      checkpointDir: String, compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, docs, checkpointDir,
        Seq(store.spanTable, store.docTable), compactEvery,
        () => compact(spark, store)) { (batch, _) =>
      append(spark, store, batch)
    }
}
