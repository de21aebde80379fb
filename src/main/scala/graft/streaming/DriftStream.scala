package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of q149's length-drift monitor: documents arrive
  * continuously, each micro-batch's per-(source, word-count) histogram
  * (the SAME definition as the gated metric —
  * [[TextAnalysis.lengthHist]]) is folded into a persisted histogram
  * store, and every batch emits the per-source Wasserstein-1 report
  * over everything ingested so far — online feed monitoring DURING
  * ingest instead of a post-hoc audit (an extension beyond the
  * reference surface, in the spirit of its per-workload metrics tick:
  * continuous observability re-expressed over the data plane).
  *
  * Scale shape: the per-batch histogram is one map-side-combinable agg
  * over the admission-bounded batch; the STORE is histogram-sized —
  * |sources| × |distinct word counts| × batches rows, corpus-size-
  * independent — so the per-trigger fold and the W₁ report run over
  * bounded summaries no matter how much volume the stream has seen
  * (the report's windows are the q123 bounded-summary exception, same
  * as the batch query). Nothing in the trigger path scales with
  * ingested volume: this monitor is O(histogram) per batch, forever.
  *
  * Failure/replay contract: the [[FoldStore]] guard, with per-cell SUM
  * as the merge — the histogram fold is ADDITIVE, so the guard is
  * exactness. A non-empty batch whose histogram is empty (every doc
  * has a null `source` or `text`) folds nothing and re-emits the
  * unchanged report.
  */
object DriftStream {

  type Store = FoldStore

  /** Create (or overwrite) an empty histogram store. */
  def build(s: SparkSession, tag: String): Store =
    FoldStore(s"graft_drift_$tag", bucket = "source",
      schema = "source string, w bigint, o bigint",
      keys = Seq("source", "w"),
      merge = Seq(sum(col("o")).as("o"))).build(s)

  /** The store collapsed to the (source, w, o) histogram of everything
    * ingested — the exact frame the gated q149 computes from raw docs.
    */
  def histogram(s: SparkSession, t: Store): DataFrame = t.merged(s)

  /** The per-source W₁ report over the ingested corpus so far —
    * bit-identical to running q149's math on the union of all batches.
    */
  def report(s: SparkSession, t: Store): DataFrame =
    TextAnalysis.wassersteinBySource(histogram(s, t))

  /** The incremental front door ([[FoldStore.start]]): per micro-batch,
    * the [[TextAnalysis.lengthHist]] histogram + guarded fold + the
    * per-source W₁ report.
    *
    * @param compactEvery see [[Sinks.ingest]]
    */
  def startIncremental(spark: SparkSession, docs: DataFrame, store: Store,
      checkpointDir: String, onBatch: DataFrame => Unit,
      compactEvery: Int = 0): StreamingQuery =
    store.start(spark, docs, checkpointDir, onBatch, compactEvery)(
      TextAnalysis.lengthHist, _ => report(spark, store))
}
