package graft.streaming

import graft.sources.Bucketed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The keyed append store behind the persisted dedup, index and span
  * layouts ([[graft.sources.SignatureStore]],
  * [[graft.sources.WinnowStore]], [[graft.sources.IndexStore]],
  * [[graft.sources.EmbedStore]], [[SpanStream]], [[CleanStream]],
  * [[ChunkStream]], [[TokenStream]], [[GraphStream]]): a store is its
  * `keys` and its bucketed `tables`, children first and the MANIFEST
  * last — the table whose `keys` say which batch rows are already
  * stored (for a one-table store, the table itself). A store supplies
  * its row derivation, its probe and its served view; everything below
  * is shared.
  *
  * Failure/replay contract: foreachBatch is at-least-once, so a crash
  * after an append re-delivers the batch. [[append]] anti-joins the
  * batch on the manifest's keys ([[fresh]]; the manifest is bucketed by
  * the key, so only the batch side shuffles), so a replay appends
  * nothing. The children append BEFORE the manifest: a crash between
  * the two leaves child rows whose keys the manifest lacks, and the
  * replay appends them again — exact duplicates, which [[compact]]'s
  * DISTINCT rewrite heals. The opposite order would manifest keys whose
  * child rows are missing, hiding them from every later probe, which no
  * compaction can recover; duplication is the recoverable failure, so
  * it is the one these stores accept. Until compaction runs, a
  * duplicated batch counts twice in the reads that count child rows.
  *
  * The appends may run through the micro-batch session clone, whose
  * relation cache is its own: [[commit]] refreshes the caller's
  * session once per table, so its next probe sees the batch.
  * `KeyedStoreContract` pins all of this for every store.
  */
final case class KeyedStore(keys: Seq[String], tables: Seq[KeyedStore.Table]) {

  /** The catalog tables, manifest last. */
  def names: Seq[String] = tables.map(_.name)

  /** Create (or overwrite) each table from its frame in `rows`. */
  def build(s: SparkSession, rows: Seq[DataFrame]): Unit =
    tables.zip(rows).foreach { case (t, r) =>
      Bucketed.dropStale(s, t.name)
      Bucketed.write(r, t.name, t.buckets, t.bucket)
    }

  /** `batch` without the rows whose keys the manifest holds. */
  def fresh(s: SparkSession, batch: DataFrame): DataFrame =
    batch.join(s.table(tables.last.name).select(keys.map(col): _*), keys,
      "left_anti")

  /** Append one frame per table with its bucket spec, children first
    * and the manifest last, then refresh the caller's view of each.
    */
  def commit(s: SparkSession, rows: Seq[DataFrame]): Unit = {
    tables.zip(rows).foreach { case (t, r) =>
      r.write.bucketBy(t.buckets, t.bucket).sortBy(t.bucket)
        .mode("append").saveAsTable(t.name)
    }
    names.foreach(s.catalog.refreshTable)
  }

  /** The replay-idempotent append: the [[fresh]] rows, persisted once,
    * through the store's `derive` (one frame per table), [[commit]]ted.
    */
  def append(s: SparkSession, batch: DataFrame)(
      derive: DataFrame => Seq[DataFrame]): Unit = {
    val f = fresh(s, batch).persist()
    try commit(s, derive(f)) finally f.unpersist(): Unit
  }

  /** Merge the per-batch append files to one file set per bucket, and
    * heal crash-window duplicates ([[Bucketed.compactDistinct]]).
    */
  def compact(s: SparkSession): Unit =
    tables.foreach(t =>
      Bucketed.compactDistinct(s, t.name, t.buckets, t.bucket))

  /** Erase the rows of `ids` (values of the first key) from every table,
    * children first ([[Bucketed.purgeBucketed]]): after the first rewrite
    * the key can no longer be found, and a crash before the manifest's
    * rewrite leaves a half-purged store that a re-run completes.
    */
  def purge(s: SparkSession, ids: Seq[Long]): Unit =
    tables.foreach(t => Bucketed.purgeBucketed(s, t.name, t.buckets,
      t.bucket, Nil, keys.head, ids))
}

object KeyedStore {

  /** One bucketed table of a store. */
  final case class Table(name: String, buckets: Int, bucket: String)
}
