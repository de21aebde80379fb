package graft.sources

import graft.Tables
import graft.operators.{Dedup, Scratch}
import graft.streaming.KeyedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted winnowing-fingerprint store — the incremental form of
  * q213's MOSS-style local near-dup detection, completing the pattern
  * the other dedup family members already have ([[SignatureStore]] for
  * MinHash bands, SpanStream for positioned spans, ChunkStream for CDC
  * chunks): a corpus that grows continuously should not re-winnow
  * 100 TB to ask "does this new document share a passage with anything
  * we already hold".
  *
  * Two tables, a [[KeyedStore]]:
  *  - `fp(doc_id, fp)` — each document's winnowing-selected
  *    fingerprints ([[Dedup.winnowFingerprints]], the ONE selection
  *    definition shared with the gated query), bucketed by `fp`, the
  *    probe key: probing a micro-batch shuffles ONLY the batch side,
  *    and the df-cap aggregate and store-to-store self-join are
  *    exchange-free however large the corpus.
  *  - `docs(doc_id)` — the ingested-document manifest, bucketed by
  *    `doc_id`, the idempotency key: [[append]]'s replay guard
  *    anti-joins the batch against THIS table (batch-sized exchange on
  *    the batch side only). Before the manifest, the guard ran
  *    `distinct(doc_id)` over the fp-bucketed table — a full-corpus
  *    SHUFFLE per trigger, the exact scale bug the fp bucketing exists
  *    to avoid (measured: the r15 `winnow_ingest` leg at 22.7 docs/s
  *    vs ~60 for the other ingest legs).
  *
  * Df-cap note: the noise rule (drop fingerprints shared by > cap
  * docs) is evaluated against the CURRENT corpus, so [[probe]]'s
  * per-batch verdicts legitimately depend on ingest order — a
  * fingerprint can cross the cap later (exactly as a production MOSS
  * index behaves); [[pairs]] after full ingest is order-independent
  * and bit-identical to the batch q213 (WinnowStoreSpec pins it). The
  * df aggregate here re-derives from the fp table per call
  * (exchange-free on the bucketing); the 100 TB deployment maintains
  * it as an additive (fp, delta) side table per the FreqStream
  * pattern — the q172-style swap note.
  */
object WinnowStore {

  val Buckets = 16

  final case class Store(fp: String, docs: String) {
    /** `fp` the child, `docs` the manifest, keyed on `doc_id`. */
    def keyed: KeyedStore = KeyedStore(Seq("doc_id"), Seq(
      KeyedStore.Table(fp, Buckets, "fp"),
      KeyedStore.Table(docs, Buckets, "doc_id")))
  }

  /** (fp rows, manifest rows) of a (doc_id, text) frame. */
  private def rows(docs: DataFrame): Seq[DataFrame] =
    Seq(Dedup.winnowFingerprints(docs), docs.select(col("doc_id")))

  /** Create (or overwrite) the store from a (doc_id, text) corpus. */
  def build(s: SparkSession, docs: DataFrame, tag: String): Store = {
    val t = Store(s"graft_winnow_$tag", s"graft_winnowdocs_$tag")
    t.keyed.build(s, rows(docs))
    t
  }

  // store per sf directory, memoized like SignatureStore.prepared
  private val prepared = new Scratch.Memo[String, Store]

  /** The store over `dir`'s documents table (built on first use). */
  def ensure(s: SparkSession, dir: String): Store =
    prepared(dir)(build(s,
      Tables.load(s, dir, "documents").select("doc_id", "text"),
      Scratch.dirHash(dir)))

  /** Upsert a (doc_id, text) batch through [[KeyedStore.append]]:
    * replay-idempotent per doc_id, appended with the SAME bucket specs.
    * Until a crash-window duplicate heals, it doubles that batch's
    * contribution to `ns`/`shared` in [[probe]].
    */
  def append(s: SparkSession, t: Store, docs: DataFrame): Unit =
    t.keyed.append(s, docs)(rows)

  /** Full-corpus scored near-dup pairs FROM THE STORE — the q213
    * result without touching raw text: df cap, self-join and scoring
    * all run over the fp-bucketed table (exchange-free store side),
    * through the SAME [[Dedup.winnowCapped]]/[[Dedup.winnowPairsFrom]]
    * plans the gated query runs over its scratch flush.
    */
  def pairs(s: SparkSession, t: Store): DataFrame =
    Dedup.winnowPairsFrom(Dedup.winnowCapped(s.table(t.fp)))

  /** Probe a (doc_id, text) micro-batch against the store BEFORE
    * appending it: every `(doc_id, dup_of, shared, nfp_new)` where
    * `dup_of` is an already-stored document sharing ≥
    * [[Dedup.WinnowMinShared]] cap-surviving fingerprints with the new
    * doc. Exactly the q213 pair rule evaluated over store ∪ batch and
    * restricted to (new × stored) pairs — candidates ONLY from the fp
    * equi-join, the df cap on the combined corpus, `nfp_new` the new
    * doc's surviving fingerprint count (the containment denominator a
    * dedup-on-ingest policy divides by). Batch-local doc_ids already
    * present in the store are excluded from `dup_of` (the
    * SignatureStore replay rule: a replayed batch probes a store that
    * already contains itself; verdicts must match the original run's).
    *
    * Both probe inputs are flushed ONCE (batch-sized scratch — the
    * q213 flush discipline): the batch's window pass would otherwise
    * re-run per consumer (it feeds the df count, the pair join and the
    * nfp denominator) and the pruned store scan feeds two consumers.
    * The flush also makes every downstream join's build side a known
    * tiny parquet, so the store-side bucketed scan is never shuffled.
    */
  /** The pruned store-side scan [[probe]] flushes: store rows sharing a
    * batch fingerprint, minus the store's copies of batch doc_ids. Kept
    * as a lazy plan so WinnowStoreSpec can pin its shape (store scan
    * leaves through broadcast semi/anti joins — never shuffled).
    */
  private[graft] def storeRowsPlan(s: SparkSession, t: Store,
      batchFps: DataFrame, batch: DataFrame): DataFrame =
    s.table(t.fp)
      .join(broadcast(batchFps.select(col("fp")).distinct()), Seq("fp"),
        "left_semi")
      // replay exclusion (the SignatureStore rule): a replayed batch
      // probes a store already containing itself; dropping the store's
      // copies of batch doc_ids restores the original run's combined
      // corpus, so df and verdicts match the first delivery exactly
      .join(broadcast(batch.select(col("doc_id"))), Seq("doc_id"),
        "left_anti")

  def probe(s: SparkSession, t: Store, batch: DataFrame): DataFrame = {
    val slot = Scratch.probeSlot(t.fp)
    val bfp = Scratch.flush(s, s"winnowprobe-b-$slot-${t.fp}",
      Dedup.winnowFingerprints(batch))
    val bCnt = bfp.groupBy(col("fp")).agg(count(lit(1)).as("nb"))
    // Only fingerprints PRESENT IN THE BATCH can pair or contribute to
    // nfp_new, so the combined-corpus df is evaluated for exactly those:
    // store rows sharing a batch fp leave the bucketed scan through a
    // (broadcast) semi-join — the store is never shuffled, every
    // exchange below is batch-sized.
    val storeRows = Scratch.flush(s, s"winnowprobe-s-$slot-${t.fp}",
      storeRowsPlan(s, t, bfp, batch))
    val sCnt = storeRows.groupBy(col("fp")).agg(count(lit(1)).as("ns"))
    val keep = bCnt.join(sCnt, Seq("fp"), "left")
      .filter(col("nb") + coalesce(col("ns"), lit(0L)) <= Dedup.WinnowDfCap)
      .select(col("fp"))
    val newCap = bfp.join(keep, Seq("fp"), "left_semi")
    val nfp = newCap.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp_new"))
    newCap
      .join(storeRows.join(keep, Seq("fp"), "left_semi")
        .select(col("doc_id").as("dup_of"), col("fp")), Seq("fp"))
      .groupBy(col("doc_id"), col("dup_of"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= Dedup.WinnowMinShared)
      .join(nfp, Seq("doc_id"))
      .select(col("doc_id"), col("dup_of"), col("shared"), col("nfp_new"))
  }
}
