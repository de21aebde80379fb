package graft.sources

import graft.{QuerySpec, Tables}
import graft.functions.Exact
import graft.operators.Scratch
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table layout: pre-shuffle a fact table ONCE at write time so
  * every later equi-join / aggregation on the bucket key is
  * exchange-free. At 100 TB this converts the recurring dominant cost of
  * a join pipeline (re-shuffling the same fact table per query) into a
  * one-time write cost:
  *
  *  - both sides bucketed by the join key into the same bucket count →
  *    sort-merge join with NO Exchange on either side;
  *  - `sortBy` on the bucket key additionally removes the Sort;
  *  - groupBy on the bucket key aggregates without a shuffle.
  *
  * Spark only uses bucket info through the catalog, hence `saveAsTable`
  * (plain parquet paths don't carry bucket metadata).
  */
object Bucketed {

  /** Write `df` as a bucketed (and bucket-sorted) catalog table. */
  def write(df: DataFrame, table: String, buckets: Int, key: String,
      moreKeys: String*): Unit =
    df.write
      .bucketBy(buckets, key, moreKeys: _*)
      .sortBy(key, moreKeys: _*)
      .mode("overwrite")
      .saveAsTable(table)

  // bucketed layouts already materialized in this JVM, per sf directory —
  // the one-time write cost is paid once, every later query reads the
  // exchange-free layout (exactly the production pattern)
  private val prepared = new Scratch.Memo[String, (String, String)]

  // the in-memory catalog forgets tables across JVMs but their warehouse
  // directories survive: drop the catalog entry AND any leftover location
  // before (re)writing, or CTAS fails with LOCATION_ALREADY_EXISTS
  private[graft] def dropStale(s: SparkSession, table0: String): Unit = {
    // normalize once at the API edge: the catalog stores (and the
    // warehouse directory is named by) the LOWERCASED identifier, so a
    // mixed-case caller-supplied name must resolve to the same table and
    // directory everywhere below (Locale.ROOT: identifiers must not
    // change under a Turkish default locale)
    val table = table0.toLowerCase(java.util.Locale.ROOT)
    s.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
    val loc = new java.io.File(new java.io.File(warehouse.getPath), table)
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
  }

  /** Adopt the canonical `table` after a [[compact]] crashed mid-swap:
    * the swap window (drop of `table` → rename of `${table}_compact`)
    * can die leaving only the `_compact` twin, and every later open /
    * probe / replayed compact would then fail with NoSuchTable — against
    * the store's replay-idempotence contract. The twin is complete
    * whenever it exists without the canonical table (the CTAS registers
    * it only after full materialization), so adoption is just the rename
    * the crash skipped. Idempotent; [[compact]] self-heals through it on
    * entry, stores call it on open.
    */
  def recover(s: SparkSession, table: String): Unit = synchronized {
    if (!s.catalog.tableExists(table) && s.catalog.tableExists(twin(table)))
      adopt(s, table)
  }

  private def twin(table: String): String = s"${table}_compact"

  /** Rename the `_compact` twin to `table`. RENAME moves a managed
    * table's files but leaves PARTITION entries pointing at the
    * pre-rename paths (probed: a renamed cid-partitioned table reads
    * ZERO rows while SHOW PARTITIONS still lists entries under the old
    * `_compact` location) — so a partition-tracked table is re-synced
    * (no-op for unpartitioned/bucketed tables).
    */
  private def adopt(s: SparkSession, table: String): Unit = {
    s.sql(s"ALTER TABLE ${twin(table)} RENAME TO $table")
    if (s.catalog.listColumns(table).collect().exists(_.isPartition))
      s.sql(s"MSCK REPAIR TABLE $table")
    s.catalog.refreshTable(table)
  }

  /** The ONE crash-safe rewrite of a catalog table, shared by every
    * compaction and purge here and by [[graft.streaming.FoldStore]],
    * [[graft.streaming.GraphStream]] and [[graft.streaming.CdcStream]]
    * compaction and by the [[Forget.graph]] label purge: heal a previous
    * crash ([[recover]]), drop a stale twin, write the complete replacement
    * (`write`) under `${table}_compact`, drop `table`, rename the twin
    * into place. The CTAS fully materializes (and only then registers)
    * the twin BEFORE the canonical name is touched, so every crash point
    * leaves either the old table intact (pre-swap: the stale twin is
    * dropped on the next attempt) or the complete twin adoptable by
    * [[recover]] (mid-swap).
    *
    * `write` is evaluated after the recover, and reads `table` through
    * `s` — an isolated session over the shared catalog, so a rewrite
    * conf never re-plans the caller's concurrently planned queries. The
    * swap runs on `s`, and the CALLER's relation cache (`s0`) still
    * lists the dropped table's files — it is refreshed there too.
    *
    * Concurrent rewrites of one table serialize on a per-table lock
    * (keyed on the lowercased name, the catalog's identifier): a second
    * swap would otherwise drop the first one's twin mid-write or rename
    * over it.
    */
  private[graft] def swap(s0: SparkSession, s: SparkSession, table: String)(
      write: => DataFrameWriter[Row]): Unit =
    swapLocks.getOrElseUpdate(table.toLowerCase(java.util.Locale.ROOT),
        new Object).synchronized {
      recover(s, table)
      dropStale(s, twin(table))
      write.mode("overwrite").saveAsTable(twin(table))
      dropStale(s, table)
      adopt(s, table)
      s0.catalog.refreshTable(table)
    }

  // TrieMap.getOrElseUpdate installs one winning lock per table
  private val swapLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Compact a bucketed table's small files: per-batch appends leave one
    * file set per bucket per batch, eroding the exchange-free read the
    * bucketing buys. Rewrites through a CTAS with the SAME bucket spec
    * and swaps it in via rename. The read forces the BUCKETED scan
    * (auto-bucketed-scan off) so each input partition holds exactly one
    * bucket and the write emits ONE file per non-empty bucket with no
    * shuffle — a per-file read would re-emit per-task-per-bucket files
    * and merge nothing. The 100 TB cadence is log-structured: appends
    * per trigger, compaction per hour/day.
    *
    * Crash-safe through [[swap]]. The rewrite runs on its own session
    * (shared catalog, isolated conf): disabling the auto-bucketed scan
    * on the caller's session would silently re-plan every concurrently
    * planned query (other streams, bench warmup) without bucketed reads.
    */
  def compact(s0: SparkSession, table: String, buckets: Int, key: String,
      moreKeys: String*): Unit =
    compactImpl(s0, table, buckets, key, moreKeys, dedupe = false)

  /** Crash-safe small-file compaction for a PARTITIONED layout (the
    * [[graft.streaming.AnnStream]] serving layout, the
    * [[graft.streaming.PqStream]] codes table): per-trigger appends add
    * one file set per partition per batch, eroding the pruned read the
    * partitioning buys. Rewrites through the same fully-materialized
    * `_compact` twin + rename swap as [[compact]] (every crash point
    * heals via [[recover]]), preserving the partition columns; input
    * splits are per-partition files, so the rewrite emits a
    * near-minimal file set per partition with no shuffle. Same
    * log-structured cadence: appends per trigger, compaction per
    * hour/day.
    */
  def compactPartitioned(s0: SparkSession, table: String,
      partitionCols: String*): Unit = {
    val s = s0.newSession()
    swap(s0, s, table)(s.table(table).write.partitionBy(partitionCols: _*))
  }

  /** [[compact]] that also DROPS DUPLICATE ROWS in the rewrite — for
    * stores whose replay contract can double-append (the
    * [[graft.streaming.KeyedStore]] crash window between the child and
    * manifest appends).
    */
  def compactDistinct(s0: SparkSession, table: String, buckets: Int,
      key: String, moreKeys: String*): Unit =
    compactImpl(s0, table, buckets, key, moreKeys, dedupe = true)

  /** [[compactDistinct]] that additionally DROPS rows whose `key` value
    * appears in `excludeTable` — the tombstone purge of
    * [[graft.streaming.CleanStream]]'s hot-hash guard (tombstoned spans
    * are excluded from every future probe, so carrying them is dead
    * weight).
    */
  def compactDistinctExcluding(s0: SparkSession, table: String,
      buckets: Int, key: String, excludeTable: String): Unit =
    compactImpl(s0, table, buckets, key, Nil, dedupe = true,
      exclude = Some(excludeTable))

  /** Rewrite a bucketed table DROPPING every row whose `idCol` value is
    * in `ids` — the compliance-delete (right-to-be-forgotten) rewrite.
    * Same fully-materialized `_compact` twin + rename-swap crash
    * discipline as [[compact]] (every crash point heals via
    * [[recover]]), same forced-bucketed-scan read (one output file per
    * bucket, no shuffle), and it doubles as a compaction. `idCol` need
    * NOT be the bucket key (a bands table bucketed by `bk` purges by
    * `doc_id`). `ids` rides as a broadcast anti-join — delete requests
    * are admission-bounded batches (the 100 TB cadence: queue deletes,
    * apply per hour/day alongside compaction; for a corpus-scale purge,
    * rebuild instead). Idempotent: re-running the same purge rewrites
    * to identical rows.
    */
  def purgeBucketed(s0: SparkSession, table: String, buckets: Int,
      key: String, moreKeys: Seq[String], idCol: String,
      ids: Seq[Long]): Unit =
    compactImpl(s0, table, buckets, key, moreKeys, dedupe = false,
      purge = Some((idCol, ids)))

  /** [[purgeBucketed]] for a PARTITIONED layout (the clustered ANN /
    * PQ-codes tables): same twin + rename + MSCK discipline as
    * [[compactPartitioned]], with the id anti-join applied in the
    * rewrite. Partition-local: input splits are per-partition files and
    * the write re-emits per partition, so a purge touching few
    * partitions rewrites only their files' worth of I/O per output
    * task.
    */
  def purgePartitioned(s0: SparkSession, table: String,
      partitionCol: String, idCol: String, ids: Seq[Long]): Unit = {
    val s = s0.newSession()
    import s.implicits._
    swap(s0, s, table) {
      val cols = s.table(table).columns.toSeq
      s.table(table)
        .join(broadcast(ids.toDF(idCol)), Seq(idCol), "left_anti")
        .select(cols.map(col): _*)
        .write.partitionBy(partitionCol)
    }
  }

  private def compactImpl(s0: SparkSession, table: String, buckets: Int,
      key: String, moreKeys: Seq[String], dedupe: Boolean,
      exclude: Option[String] = None,
      purge: Option[(String, Seq[Long])] = None): Unit = {
    val s = s0.newSession()
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    swap(s0, s, table) {
      val base0 = exclude.fold(s.table(table))(ex =>
        s.table(table).join(
          s.table(ex).select(col(key)).distinct(), Seq(key), "left_anti"))
      val base = purge.fold(base0) { case (c, ids) =>
        import s.implicits._
        // restore the original column order: the USING anti-join fronts
        // the id column, and the rewrite must not reorder the schema
        base0.join(broadcast(ids.toDF(c)), Seq(c), "left_anti")
          .select(base0.columns.toSeq.map(col): _*)
      }
      val src = if (dedupe) base.distinct() else base
      src.write.bucketBy(buckets, key, moreKeys: _*).sortBy(key, moreKeys: _*)
    }
  }

  /** Materialize the bucketed layout ahead of time (idempotent). Bench
    * calls this in its untimed warmup so q45 times the exchange-free
    * READ the layout buys, not the one-time CTAS — mixing the two made
    * the gate artifact read "q45 is slow" when the steady-state cost is
    * the read alone.
    */
  def prepare(s: SparkSession, dir: String): Unit = ensureLayout(s, dir)

  private def ensureLayout(s: SparkSession, dir: String): (String, String) =
    prepared(dir) {
      val tag = Scratch.dirHash(dir)
      val li = s"graft_bkt_lineitem_$tag"
      val ord = s"graft_bkt_orders_$tag"
      dropStale(s, li)
      dropStale(s, ord)
      write(Tables.load(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        li, buckets = 16, key = "l_orderkey")
      write(Tables.load(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        ord, buckets = 16, key = "o_orderkey")
      (li, ord)
    }

  /** Q45 — co-located fact⋈fact join + bucket-key aggregation on the
    * bucketed layout. The WHOLE plan must be exchange-free: both sides
    * are bucketed by the join key into the same bucket count (sort-merge
    * join with no Exchange and no Sort), and the aggregation keys contain
    * the bucket key (no Exchange before the aggregate either). The build
    * asserts that plan shape with broadcast/AQE pinned off, so a
    * regression in the bucketed path fails the gate rather than silently
    * re-shuffling 100 TB per query.
    */
  val qBucketedJoin: QuerySpec = QuerySpec(
    "q45_bucketed_join",
    (s, dir) => {
      val (li, ord) = ensureLayout(s, dir)
      // pin to the shuffle-based path while ASSERTING the plan, so the
      // check is about bucketing, not broadcast thresholds or AQE
      val pinned = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")
      val old = pinned.map { case (k, _) => k -> s.conf.getOption(k) }
      pinned.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val joined = s.table(li)
          .join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            Exact.dsum(col("l_quantity")).as("sum_qty"))
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("n_items"), col("sum_qty"))
        val plan = joined.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          s"bucketed join/agg must be exchange-free, got:\n$plan")
        joined
      } finally old.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    },
    Some(s"""SELECT o_orderkey, o_orderpriority, COUNT(*) AS n_items,
            | ${Exact.dsumSql("l_quantity")} AS sum_qty
            | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            | GROUP BY o_orderkey, o_orderpriority""".stripMargin.replaceAll("\n", "")))

  val specs: Seq[QuerySpec] = Seq(qBucketedJoin)
}
