package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of q158's frequent-tokens report: documents arrive
  * continuously, each micro-batch contributes a BOUNDED summary — the
  * exact in-batch counts of the terms that are batch-frequent
  * (`cnt · k > n_b`) plus an `("", n_b)` token-total sentinel (q158's
  * sentinel convention) — and every batch emits the current
  * heavy-hitter estimate over everything ingested so far. An online
  * vocabulary monitor with per-trigger cost independent of ingested
  * volume (an extension beyond the reference surface, in the spirit of
  * its per-workload metrics tick: continuous observability re-expressed
  * over the data plane; the batch twin is q158).
  *
  * Unlike q158's two-pass batch plan (whose second pass exact-counts
  * candidates over the full corpus), a bounded-state monitor cannot
  * revisit history, so its estimates carry the classic merged-summary
  * bounds instead of exact counts — with a TWO-SIDED guarantee:
  *
  *  - `est(t) ≤ true(t)` (only exact in-batch counts are ever stored);
  *  - `est(t) ≥ true(t) − n/k` (a term loses mass only in batches where
  *    it is below that batch's `n_b/k` threshold, and Σ n_b/k = n/k);
  *  - therefore every REPORTED term (`est · k > n`) is truly
  *    `> n/k`-frequent (no false positives at the n/k level), and every
  *    term with `true(t) · k > 2n` is reported (no misses above 2n/k).
  *
  * The per-batch summary is DETERMINISTIC (exact counts + a threshold —
  * no partition-order-dependent decrement state), so the store is
  * bit-reproducible given the same batch slicing and the spec can pin
  * the streamed store against a driver-side fold of the same slices.
  *
  * Scale shape: the per-batch aggregate is one map-side-combinable
  * count over the admission-bounded batch; at most k summary rows plus
  * the sentinel fold per trigger, so the STORE grows with batch count,
  * never data volume, and compaction collapses committed history to
  * one row per candidate term (the sentinel rows sum into one
  * `("", Σ n_b)` baseline row — the sentinel is itself additive). The
  * report runs over the candidate-sized store frame — O(candidates) per
  * trigger, forever.
  *
  * Failure/replay contract: the [[FoldStore]] guard, with per-term SUM
  * as the merge — additive state, so the guard is exactness.
  */
object FreqStream {

  /** The frequency threshold denominator — q158's summary size. */
  val K: Long = graft.operators.Corpus.MgK.toLong

  type Store = FoldStore

  /** Create (or overwrite) an empty summary store. */
  def build(s: SparkSession, tag: String): Store =
    FoldStore(s"graft_freq_$tag", bucket = "term",
      schema = "term string, cnt bigint", keys = Seq("term"),
      merge = Seq(sum(col("cnt")).as("cnt"))).build(s)

  /** The deterministic bounded summary of one batch: exact counts of
    * the batch-frequent terms (`cnt · K > n_b`) plus the `("", n_b)`
    * total sentinel (zero-length tokens are filtered, so the empty term
    * cannot collide). At most k−1 terms can exceed n_b/k, so the
    * summary is ≤ k rows at any batch size.
    */
  def batchSummary(batch: DataFrame): DataFrame = {
    val counts = batch
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val nb = counts.agg(coalesce(sum(col("cnt")), lit(0L)).as("nb"))
    counts.crossJoin(broadcast(nb))
      .filter(col("cnt") * K > col("nb"))
      .select(col("term"), col("cnt"))
      .unionByName(nb.select(lit("").as("term"), col("nb").as("cnt")))
  }

  /** Per-candidate summed estimates (lower bounds within n/K of truth). */
  def estimates(s: SparkSession, t: Store): DataFrame =
    t.merged(s).filter(col("term") =!= "")
      .select(col("term"), col("cnt").as("est_cnt"))

  /** Total tokens ingested (the summed sentinel rows), as a 1-row frame. */
  def totalTokens(s: SparkSession, t: Store): DataFrame =
    s.table(t.table).filter(col("term") === "")
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_tok"))

  /** The current heavy-hitter report: candidates with `est · K > n` —
    * every row is a truly >n/K-frequent term (est is a lower bound),
    * and every term above 2n/K is present. `share_lb_e4` is the
    * integer-e4 lower bound on the term's token share.
    */
  def report(s: SparkSession, t: Store): DataFrame =
    estimates(s, t).crossJoin(broadcast(totalTokens(s, t)))
      .filter(col("est_cnt") * K > col("n_tok"))
      .select(col("term"), col("est_cnt"), col("n_tok"),
        expr("(10000 * est_cnt) div n_tok").as("share_lb_e4"))

  /** The incremental front door ([[FoldStore.start]]): per micro-batch,
    * bounded summary + guarded fold + heavy-hitter report.
    *
    * @param compactEvery see [[Sinks.ingest]]
    */
  def startIncremental(spark: SparkSession, docs: DataFrame, store: Store,
      checkpointDir: String, onBatch: DataFrame => Unit,
      compactEvery: Int = 0): StreamingQuery =
    store.start(spark, docs, checkpointDir, onBatch, compactEvery)(
      batchSummary, _ => report(spark, store))
}
