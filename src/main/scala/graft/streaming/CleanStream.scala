package graft.streaming

import graft.operators.Dedup
import graft.sources.Bucketed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming substring-dedup — the dedup-on-ingest form of q130's batch
  * rewrite: documents arrive continuously, each micro-batch's new
  * documents are spliced against extents (≥ `minWords` words) they
  * share with ALREADY-INGESTED documents (and with lower-doc_id
  * documents in the same batch), the cleaned rows are handed to the
  * caller, and the batch's ORIGINAL positioned spans are appended to a
  * persisted store. The keeper rule is FIRST ARRIVAL: whoever brought a
  * passage first keeps it verbatim; every later copy is removed — the
  * arrival-order analog of batch q130's lowest-doc_id rule (ingesting
  * in doc_id order makes the two IDENTICAL, which CleanStreamSpec pins
  * bit-exactly against `Dedup.substringRemove` through the SHARED
  * `removalPositions`/`spliceTokens` code path).
  *
  * The store holds ORIGINAL spans, not cleaned ones: the keeper's text
  * is intact by construction, and matching later arrivals against the
  * original keeps the removal decision independent of how the stream
  * was chunked into batches.
  *
  * Scale shape: per trigger, the probe joins the admission-bounded
  * batch's positioned spans against the h-BUCKETED store (exchange-free
  * on the store side), the in-batch self-join is batch-sized, the
  * extent windows run over candidate rows only, and the splice is one
  * pass over the batch. Replay and the spans-before-manifest crash
  * window are the [[KeyedStore]] contract: a replayed batch cleans
  * nothing and appends nothing, and a replay in the crash window re-runs
  * the batch against a stored side stripped of the batch's own spans,
  * so it emits the SAME cleaned rows as the crashed attempt.
  *
  * No df cap on the DEFAULT probe: the batch store's cap is a
  * corpus-global skew guard, but a stream cannot know a span's final
  * df — capping against history would admit early copies of ubiquitous
  * boilerplate and then drift from the batch semantics forever. The
  * store-side fan-out per hash is instead bounded by ingest order:
  * every stored occurrence of a hash joins only against the CURRENT
  * batch's occurrences of it. What that leaves unbounded over the
  * stream's LIFETIME is a ubiquitous span's stored occurrence list —
  * every future batch occurrence of the hash joins against all of
  * them. The opt-in `maxStoredDf` hot-hash guard closes that: once a
  * span hash's stored occurrence count crosses the bound it is written
  * to a TOMBSTONE list and excluded thereafter from the probe, from
  * removal, and from the store append (and its stored rows are purged
  * at the next [[compact]]) — so per-trigger probe fan-out per hash is
  * bounded by maxStoredDf × batch occurrences, forever. This is an
  * explicit SEMANTICS change, mirroring the batch cap discipline
  * (ubiquitous boilerplate is noise, not dedup signal — the
  * [[graft.operators.Dedup]] MaxSpanDf rationale): a later copy of a
  * tombstoned passage is KEPT, which is why the default is off
  * (`Long.MaxValue` ≡ the exact batch-equivalent semantics).
  * Tombstones are detected AFTER the manifest commit; a crash in
  * between re-detects at the hash's next batch appearance (the count
  * is recomputed from the store, so the guard is self-healing, never
  * lossy).
  */
object CleanStream {

  val Buckets = 16

  final case class Store(posTable: String, docTable: String,
      tombTable: String) {
    /** `posTable` the child, `docTable` the manifest, keyed on `doc_id`. */
    def keyed: KeyedStore = KeyedStore(Seq("doc_id"), Seq(
      KeyedStore.Table(posTable, Buckets, "h"),
      KeyedStore.Table(docTable, Buckets, "doc_id")))

    /** The tombstone list, its own manifest, keyed on `h`. */
    def tomb: KeyedStore =
      KeyedStore(Seq("h"), Seq(KeyedStore.Table(tombTable, Buckets, "h")))
  }

  /** Create (or overwrite) an empty positioned-span store. */
  def build(s: SparkSession, tag: String): Store = {
    import s.implicits._
    val t = Store(s"graft_clean_$tag", s"graft_clean_docs_$tag",
      s"graft_clean_tomb_$tag")
    t.keyed.build(s, Seq(
      Seq.empty[(Long, Long, Long)].toDF("doc_id", "pos", "h"),
      Seq.empty[Long].toDF("doc_id")))
    t.tomb.build(s, Seq(Seq.empty[Long].toDF("h")))
    t
  }

  /** Process one batch: clean its NEW docs against the store + earlier
    * in-batch docs, return the materialized cleaned frame (empty for a
    * fully-replayed batch), and ingest the originals. The returned
    * frame is scratch-parquet-materialized BEFORE the store append — a
    * lazy frame consumed after it would re-probe the post-append store
    * and self-match every doc (the ChunkStream report lesson) — and
    * read back as a plain scan, so full document text never transits
    * the driver (the write is an executor-side action; the old
    * `collect()` form put every batch's doc text through driver memory
    * for no reason).
    */
  def cleanAndIngest(s: SparkSession, t: Store, docs: DataFrame,
      minWords: Int, maxStoredDf: Long = Long.MaxValue): DataFrame = {
    val capped = maxStoredDf != Long.MaxValue
    val newDocs = t.keyed.fresh(s, docs.select(col("doc_id"), col("text")))
      .persist()
    try {
      if (newDocs.limit(1).count() == 0) {
        import s.implicits._
        Seq.empty[(Long, Long, Long, String)]
          .toDF("doc_id", "n_tokens_before", "n_removed", "clean_text")
      } else {
        // hot-hash guard (opt-in): tombstoned hashes leave the pipeline
        // here — batch side, stored side, and the store append all see
        // the filtered frame, so a tombstoned span neither removes nor
        // accumulates. With the knob off the plan is EXACTLY the
        // uncapped one (no tombstone join at all).
        val spNewAll = Dedup.spanPosRows(newDocs)
        val spNew =
          if (!capped) spNewAll
          else spNewAll.join(s.table(t.tombTable), Seq("h"), "left_anti")
        // keeper side (d1): stored docs — first arrivals — plus
        // lower-doc_id docs of this same batch (the in-batch tiebreak
        // that keeps the result independent of batch chunking when
        // ingesting in id order).
        //
        // Crash-window guard: if a prior attempt of THIS batch appended
        // its spans but died before the manifest commit, the replayed
        // batch's own spans are already in posTable — anti-join the
        // stored side against the batch's doc_ids so in-batch pairs
        // never enter the cross-store leg in BOTH orientations (which
        // would splice the first-arrival keeper's passage too). The
        // distinct() tolerates pre-compaction duplicate span rows from
        // the same window for OLDER docs (duplicated match rows would
        // corrupt removalPositions' row_number island grouping). Both
        // are no-ops on the clean path: the anti-join's probe side is
        // the admission-bounded batch (broadcast), and the distinct
        // runs exchange-free on the h-bucketed scan.
        val stored0 = s.table(t.posTable)
          .join(newDocs.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .distinct()
        val stored =
          if (!capped) stored0
          else stored0.join(s.table(t.tombTable), Seq("h"), "left_anti")
        val m = stored.alias("a")
          .join(spNew.alias("b"), col("a.h") === col("b.h")
            && col("a.doc_id") =!= col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
            col("a.pos").as("p1"), col("b.pos").as("p2"))
          .union(spNew.alias("a")
            .join(spNew.alias("b"), col("a.h") === col("b.h")
              && col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
              col("a.pos").as("p1"), col("b.pos").as("p2")))
        val cleaned = graft.operators.Scratch.flush(
          s, s"cleanstream-${t.posTable}",
          Dedup.spliceTokens(newDocs, Dedup.removalPositions(m, minWords)))
        t.keyed.commit(s, Seq(spNew, newDocs.select(col("doc_id"))))
        if (capped) {
          // detect hashes whose STORED occurrence count just crossed the
          // bound: count only over this batch's hashes (the store is
          // h-bucketed → exchange-free group-by; a non-tombstoned hash
          // holds ≤ maxStoredDf + batch rows, so this is bounded even
          // for the hash that is about to go hot). Crash tolerance: the
          // tombstone append is last — losing it just re-detects at the
          // hash's next appearance; the tombstone store's own replay
          // guard keeps a hash from being listed twice.
          //
          // The probe hashes derive from the RAW batch frame, not from
          // spNew: the commit's refreshes invalidate every cached
          // dataset that READS the store tables (spNew does, through
          // newDocs' manifest anti-join), so spNew re-evaluated here
          // would see its own docs manifested and collapse to empty.
          // Raw-batch hashes may include replayed docs' — harmless, the
          // counts come from the store and the tomb anti-join dedups.
          val batchHashes = Dedup
            .spanPosRows(docs.select(col("doc_id"), col("text")))
            .select(col("h")).distinct()
          t.tomb.append(s, s.table(t.posTable)
            .join(batchHashes, Seq("h"), "left_semi")
            .groupBy(col("h")).agg(count(lit(1)).as("df"))
            .filter(col("df") > maxStoredDf).select(col("h")))(Seq(_))
        }
        cleaned
      }
    } finally newDocs.unpersist()
  }

  /** Heal crash-window duplicate rows, collapse per-trigger append
    * files (DISTINCT rewrite, one file set per bucket), and purge
    * spans of tombstoned hashes (they can never be probed again). The
    * tombstones compact first: their rewrite heals a crashed swap of
    * the list before it is read.
    */
  def compact(s: SparkSession, t: Store): Unit = {
    t.tomb.compact(s)
    if (s.table(t.tombTable).isEmpty) t.keyed.compact(s)
    else {
      Bucketed.compactDistinctExcluding(s, t.posTable, Buckets, "h",
        t.tombTable)
      Bucketed.compactDistinct(s, t.docTable, Buckets, "doc_id")
    }
  }

  /** The incremental front door: per micro-batch, clean + ingest;
    * `onBatch` receives the materialized cleaned frame of each
    * non-empty batch. Through [[Sinks.ingest]] with [[compact]] as its
    * compaction.
    */
  def startIncremental(spark: SparkSession, docs: DataFrame, store: Store,
      minWords: Int, checkpointDir: String, onBatch: DataFrame => Unit,
      compactEvery: Int = 0,
      maxStoredDf: Long = Long.MaxValue): StreamingQuery =
    Sinks.ingest(spark, docs, checkpointDir,
        store.keyed.names ++ store.tomb.names, compactEvery,
        () => compact(spark, store)) { (batch, _) =>
      val cleaned = cleanAndIngest(spark, store, batch, minWords, maxStoredDf)
      if (!cleaned.isEmpty) onBatch(cleaned)
    }
}
