package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the batch CDC apply (q98,
  * [[graft.operators.Temporal.qCdcApply]]): a keyed changelog arrives
  * continuously and a persisted state table tracks latest-op-per-key,
  * so the lakehouse MERGE materialization is available at any moment
  * without replaying the log from the start.
  *
  * The store is MERGE-ON-READ (the Hudi/Delta MoR discipline, public
  * knowledge): each micro-batch appends ONLY its own latest-per-key
  * reduction (map-side agg, bounded by the batch) to a
  * bucket-partitioned log, and readers re-reduce on read. That makes
  * the store replay-idempotent BY CONSTRUCTION — an at-least-once
  * foreachBatch redelivery appends byte-identical rows whose
  * re-reduction picks the same winner — and order-insensitive, because
  * `max_by((tsu, eid))` is commutative across batches however the log
  * was chunked. Deletes are retained as TOMBSTONES (never dropped by
  * [[compact]]): a late-arriving op older than a delete must lose, so
  * tombstone GC is only safe past a late-data horizon, which this
  * embedded store does not presume.
  *
  * Scale shape: the per-trigger work is one map-side-combinable agg
  * over the batch plus a partitioned append — no read-modify-write of
  * existing state on the hot path (an overwrite-based upsert would
  * rewrite every touched partition per trigger AND self-read the
  * table). Read amplification is bounded by [[compact]], which
  * collapses the log to one row per key — run it on the maintenance
  * cadence, like `KeyedStore.compact`.
  */
object CdcStream {

  /** Key-hash partition count of the state table: bounds the file count
    * per append and lets a single-key lookup prune to one partition.
    */
  val Buckets = 64L

  private val cols = Seq("cust_id", "op", "new_bal", "tsu", "eid")

  /** Latest op per key under the (tsu, eid) version order — eid unique,
    * so the argmax is deterministic. One hash agg, map-side merged.
    */
  def latestPerKey(log: DataFrame): DataFrame =
    log.groupBy(col("cust_id"))
      .agg(max_by(
        struct(col("op"), col("new_bal"), col("tsu"), col("eid")),
        struct(col("tsu"), col("eid"))).as("p"))
      .select(col("cust_id"), col("p.op").as("op"),
        col("p.new_bal").as("new_bal"), col("p.tsu").as("tsu"),
        col("p.eid").as("eid"))

  /** Create the empty state table (drops any stale incarnation). */
  def init(s: SparkSession, table: String): String = {
    graft.sources.Bucketed.dropStale(s, table)
    import s.implicits._
    Seq.empty[(Long, String, Double, Long, Long)]
      .toDF(cols: _*)
      .withColumn("kb", pmod(col("cust_id"), lit(Buckets)))
      .write.partitionBy("kb").mode("overwrite").saveAsTable(table)
    table
  }

  /** Append one changelog batch's latest-per-key reduction. Safe to
    * call again with the same batch (replay) or with batches in any
    * order — see the merge-on-read contract above.
    */
  def applyBatch(s: SparkSession, table: String, batch: DataFrame): Unit = {
    latestPerKey(batch.select(cols.map(col): _*))
      .withColumn("kb", pmod(col("cust_id"), lit(Buckets)))
      .write.partitionBy("kb").mode("append").saveAsTable(table)
    // partitioned append lands on the frame's bound session (the
    // micro-batch clone under foreachBatch); refresh the coordinating
    // session's relation cache or its readers list pre-append files —
    // the ProductQuant.appendFresh trap
    s.catalog.refreshTable(table)
  }

  /** Continuous apply: every micro-batch of the changelog stream is
    * reduced and appended, through [[Sinks.ingest]] (which heals a
    * crashed [[compact]] swap before batch 0). At-least-once
    * foreachBatch redelivery is absorbed by the merge-on-read
    * reduction.
    */
  def startApply(s: SparkSession, log: DataFrame, table: String,
      checkpointDir: String): StreamingQuery =
    Sinks.ingest(s, log, checkpointDir, Seq(table)) { (b, _) =>
      applyBatch(s, table, b)
    }

  /** Current per-key state (tombstones included) — the merge-on-read
    * reduction over the whole log.
    */
  def state(s: SparkSession, table: String): DataFrame =
    latestPerKey(s.table(table).select(cols.map(col): _*))

  /** Collapse the log to one row per key (tombstones RETAINED) through
    * [[graft.sources.Bucketed.swap]]'s crash-safe twin + rename: every
    * crash point leaves the old log intact or the complete twin that
    * [[graft.sources.Bucketed.recover]] adopts (on the next compact or
    * [[startApply]]).
    */
  def compact(s: SparkSession, table: String): Unit = {
    val rw = s.newSession()
    graft.sources.Bucketed.swap(s, rw, table)(
      state(rw, table).withColumn("kb", pmod(col("cust_id"), lit(Buckets)))
        .write.partitionBy("kb"))
  }

  /** The MERGE materialization of `base` (cust_id, base_bal) under the
    * store's current state — q98's join semantics: kept / updated /
    * inserted rows survive, deleted keys drop.
    */
  def materialize(s: SparkSession, table: String, base: DataFrame): DataFrame =
    base.join(state(s, table).select(col("cust_id"), col("op"), col("new_bal")),
        Seq("cust_id"), "full_outer")
      .filter(col("op").isNull || col("op") === "U")
      .select(col("cust_id"),
        when(col("op") === "U", col("new_bal")).otherwise(col("base_bal"))
          .as("balance"),
        when(col("op").isNull, lit("kept"))
          .when(col("base_bal").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("src"))
}
