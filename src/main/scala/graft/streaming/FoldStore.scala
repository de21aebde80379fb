package graft.streaming

import graft.sources.Bucketed
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The guarded-fold store behind the summary monitors
  * ([[AnomalyStream]], [[DistinctStream]], [[DriftStream]],
  * [[EvalStream]], [[FreqStream]], [[ManifestStream]]): each
  * micro-batch contributes a bounded summary, the store accrues one
  * summary row-set per batch, and serving reads the store collapsed by
  * `merge` — the per-key aggregate under which summaries of disjoint
  * slices combine (a sum for counts and grids, a max for HLL registers,
  * a sum mod P for checksums). A monitor supplies its table name, its
  * bucket column, its `schema` (key and value columns, as DDL), the
  * group-by `keys` and one aggregate per value column; everything below
  * is shared.
  *
  * Failure/replay contract: foreachBatch is at-least-once, so
  * idempotence comes from batch accounting, not content anti-joins.
  * Rows carry the CHECKPOINT LINEAGE + `batch_id`, and [[append]]
  * anti-joins the store's distinct (ckpt, batch_id) pairs — a frame
  * bounded by batch count, never data volume. A replayed batch
  * re-delivers under the same checkpoint with the same batch_id, so it
  * appends nothing, and its re-emitted report — computed AFTER the
  * guard against the unchanged store — is bit-identical to the original
  * delivery. The guard is ckpt-SCOPED because bare batch_ids are not
  * unique across stream lifetimes: a stream restarted against an
  * existing store with a FRESH checkpoint directory re-issues ids 0..N
  * that collide with stored ones, and a bare-id guard would silently
  * drop every new batch (the GraphStream fresh-checkpoint lesson).
  *
  * Compaction ([[compact]]): everything except the ACTIVE checkpoint's
  * LATEST fold can never replay — Structured Streaming's serial-batch
  * model replays only the last uncommitted batch, and other checkpoint
  * lineages are ckpt-scope-guarded — so all of it collapses by `merge`
  * into one baseline row-set tagged (ckpt = "", batch_id = −1),
  * bounding the store at |merged| + |latest summary| rows regardless of
  * stream lifetime. The rewrite is [[Bucketed.swap]]'s crash-safe twin
  * + rename, and every crash point heals through [[Bucketed.recover]]
  * on the next [[start]] or [[compact]]. `FoldStoreContract` pins all
  * of this for every monitor.
  */
final case class FoldStore(table: String, bucket: String, schema: String,
    keys: Seq[String], merge: Seq[Column]) {

  private val columns = StructType.fromDDL(schema).fieldNames.toSeq

  /** Create (or overwrite) the empty store. */
  def build(s: SparkSession): FoldStore = {
    Bucketed.dropStale(s, table)
    Bucketed.write(s.createDataFrame(java.util.Collections.emptyList[Row],
        StructType.fromDDL(s"ckpt string, batch_id bigint, $schema")),
      table, FoldStore.Buckets, bucket)
    this
  }

  /** Guarded fold of one batch's `summary` (the `schema` columns),
    * tagged (`ckpt`, `batchId`): appends nothing when the store already
    * holds that pair. The write may execute through a micro-batch
    * session clone — the coordinating session's relation cache is
    * refreshed before anything reads the store back (the
    * ChunkStream/ProductQuant rule).
    */
  def append(s: SparkSession, summary: DataFrame, ckpt: String,
      batchId: Long): Unit = {
    val bid = FoldStore.batchIdColumn(batchId)
    // the store side is filtered to this pair explicitly: a batch id that
    // is not a literal infers no filter onto it
    summary
      .select(lit(ckpt).as("ckpt") +: bid.as("batch_id") +:
        columns.map(col): _*)
      .join(s.table(table)
          .filter(col("ckpt") === ckpt && col("batch_id") === bid)
          .select(col("ckpt"), col("batch_id")).distinct(),
        Seq("ckpt", "batch_id"), "left_anti")
      .write.bucketBy(FoldStore.Buckets, bucket).sortBy(bucket)
      .mode("append").saveAsTable(table)
    s.catalog.refreshTable(table)
  }

  /** The store collapsed by `merge`: one row per key over everything
    * folded so far.
    */
  def merged(s: SparkSession): DataFrame = collapse(s.table(table))

  private def collapse(rows: DataFrame): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(merge.head, merge.tail: _*)

  /** Row-collapsing compaction: all but `activeCkpt`'s latest fold
    * collapses into the (ckpt = "", batch_id = −1) baseline.
    */
  def compact(s0: SparkSession, activeCkpt: String): Unit = {
    val s = s0.newSession()
    Bucketed.swap(s0, s, table) {
      val cur = s.table(table)
      val maxBid = cur.filter(col("ckpt") === activeCkpt)
        .agg(coalesce(max(col("batch_id")), lit(-1L)))
        .collect().head.getLong(0)
      val keep = col("ckpt") === activeCkpt &&
        col("batch_id") === FoldStore.batchIdColumn(maxBid)
      collapse(cur.filter(!keep))
        .select(lit("").as("ckpt") +: lit(-1L).as("batch_id") +:
          columns.map(col): _*)
        .unionByName(cur.filter(keep))
        .write.bucketBy(FoldStore.Buckets, bucket).sortBy(bucket)
    }
  }

  /** The incremental front door, through [[Sinks.ingest]] (heal before
    * batch 0, [[compact]] every `compactEvery` batches): per non-empty
    * micro-batch, the monitor's bounded `summary` of the batch, the
    * guarded fold, then `report` over the post-fold store (the monitor
    * reads "as of now", including this batch). `onBatch` receives the
    * report with a leading `batch_id` column, collected before return
    * ([[Sinks.collected]]).
    */
  def start(spark: SparkSession, input: DataFrame, checkpointDir: String,
      onBatch: DataFrame => Unit, compactEvery: Int)(
      summary: DataFrame => DataFrame, report: Long => DataFrame)
      : StreamingQuery =
    Sinks.ingest(spark, input, checkpointDir, Seq(table), compactEvery,
        () => compact(spark, checkpointDir)) { (batch, batchId) =>
      append(spark, summary(batch), checkpointDir, batchId)
      val body = report(batchId)
      onBatch(Sinks.collected(spark, body.select(
        FoldStore.batchIdColumn(batchId).as("batch_id") +:
          body.columns.toSeq.map(col): _*)))
    }
}

object FoldStore {
  val Buckets = 8

  /** `batchId` as a column. It enters through a UDF: a literal would be
    * inlined into the generated code, and every trigger would compile its
    * stages anew.
    */
  private def batchIdColumn(batchId: Long): Column =
    udf(() => batchId).asNondeterministic()()
}
