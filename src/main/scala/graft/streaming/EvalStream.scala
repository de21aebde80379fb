package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of q208's classifier evaluation: documents arrive
  * continuously, each micro-batch contributes its bounded
  * (source, score) → (positives, negatives) grid (the q208 summary is
  * ADDITIVE — grids of disjoint corpus slices merge by per-cell sum),
  * and the persisted grid store serves the exact sliced ROC-AUC /
  * best-F1 report at any moment — the live "is the quality filter still
  * ranking the teacher correctly, per feed" board, fed at grid cost
  * (≤ distinct scores × sources rows per batch, never document volume).
  *
  * Serving ([[serve]]) is the SAME `TextAnalysis.evalFromGrid` plan the
  * gated q208 runs over its flushed grid — one definition, so the
  * streamed and batch reports can never fork (EvalStreamSpec pins the
  * bit-equality after a multi-batch ingest).
  *
  * Failure/replay contract: the [[FoldStore]] guard, with per-cell SUM
  * as the merge — for a summed grid the guard is correctness (a
  * double-fold would double-count documents), not just a size bound.
  * Compaction collapses committed history to the merged grid, keeping
  * the store bounded by score-space, not batch count.
  */
object EvalStream {

  type Store = FoldStore

  /** Create (or overwrite) an empty grid store. */
  def build(s: SparkSession, tag: String): Store =
    FoldStore(s"graft_eval_$tag", bucket = "score",
      schema = "source string, score bigint, p bigint, n bigint",
      keys = Seq("source", "score"),
      merge = Seq(sum(col("p")).as("p"), sum(col("n")).as("n"))).build(s)

  /** The bounded grid summary of one (source, text) batch — the q208
    * construction on the batch slice, one shared definition.
    */
  def batchGrid(batch: DataFrame): DataFrame = TextAnalysis.scoreGrid(batch)

  /** The merged (source, score, p, n) grid over everything ingested —
    * identical to q208's flushed grid over the union of the batches.
    */
  def mergedGrid(s: SparkSession, t: Store): DataFrame = t.merged(s)

  /** The sliced AUC / best-F1 report — q208's exact plan over the
    * store's merged grid (read twice, per the evalFromGrid contract:
    * two bucketed scans of a score-space-sized table).
    */
  def serve(s: SparkSession, t: Store): DataFrame =
    TextAnalysis.evalFromGrid(mergedGrid(s, t))

  /** The q212 fairness report from the SAME persisted grid: per-source
    * (n, k) counts derive from the (source, score, p, n) cells — a doc
    * is "kept" at θ = 0 iff its score ≥ 0, so k = Σ_{score ≥ 0}(p + n)
    * and n = Σ(p + n) — then the shared
    * [[graft.operators.TextAnalysis.biasFromCounts]] plan (χ² +
    * Cramér's V) runs over the catalog-sized frame. One store, two
    * live boards: q208's "does the scorer still rank the teacher" and
    * q212's "is the filter reshaping the mixture". Universe note: the
    * grid covers scoreable docs (word count > 0), which is every doc
    * the teacher labels; the gated q212 scores unlabelable empty docs
    * too, so the reports coincide exactly on any corpus without
    * zero-word documents (EvalStreamSpec asserts that precondition and
    * pins the bit-equality).
    */
  def serveBias(s: SparkSession, t: Store): DataFrame =
    TextAnalysis.biasFromCounts(
      mergedGrid(s, t)
        .groupBy(col("source"))
        .agg(sum(col("p") + col("n")).as("n"),
          sum(when(col("score") >= 0, col("p") + col("n")).otherwise(0L))
            .as("k")))

  /** The incremental front door ([[FoldStore.start]]): per micro-batch,
    * bounded grid summary + guarded fold + the full q208 report.
    *
    * @param compactEvery see [[Sinks.ingest]]
    */
  def startIncremental(spark: SparkSession, docs: DataFrame, store: Store,
      checkpointDir: String, onBatch: DataFrame => Unit,
      compactEvery: Int = 0): StreamingQuery =
    store.start(spark, docs, checkpointDir, onBatch, compactEvery)(
      batchGrid, _ => serve(spark, store))
}
