package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Compliance delete (right-to-be-forgotten) across the persisted
  * serving layouts — the operator a 100 TB deployment is legally
  * required to have: when documents (or the vectors derived from them)
  * must be erased, every derived store has to drop BOTH the rows that
  * would serve them and the content-bearing state (shingle-hash sets,
  * postings, quantized vectors) computed from them.
  *
  * All five layouts store strictly PER-DOCUMENT rows (a deliberate
  * design property: no store folds multiple documents into one
  * irreversible aggregate), so a purge is a row-local anti-join rewrite
  * — [[Bucketed.purgeBucketed]] / [[Bucketed.purgePartitioned]], the
  * same crash-safe twin + rename-swap machinery as compaction — and a
  * purged store is BIT-IDENTICAL to one rebuilt from the remaining
  * corpus (under the same frozen codebooks, for the vector layouts).
  * `ForgetSpec` pins that equivalence per store, which is the strongest
  * possible erasure proof: nothing derived from the purged documents
  * remains, because the purged store is indistinguishable from one that
  * never saw them.
  *
  * Serving-stat correctness falls out of the same property: BM25's
  * N / total-length / df are computed AT SERVE TIME from the manifest
  * and postings ([[IndexStore]]), so deletes shift the corpus statistics
  * exactly as a rebuild would — no stale-df window.
  *
  * Ordering within a store puts the DISCOVERY side first (bands /
  * postings — after it, the doc can no longer be surfaced) and the
  * content/guard side second (sig / manifest); a crash between the two
  * leaves a transiently half-purged store that an idempotent re-run
  * completes. The 100 TB cadence is batched: queue delete requests,
  * apply per hour/day alongside compaction (each purge IS a
  * compaction); for corpus-scale erasure, rebuild the store instead.
  *
  * The keyed stores purge through [[graft.streaming.KeyedStore.purge]],
  * children first.
  */
object Forget {

  /** Erase `docIds` from a MinHash signature/band store: bands first
    * (the doc stops being a candidate), then its shingle-hash sets.
    */
  def signatures(s: SparkSession, t: SignatureStore.Store,
      docIds: Seq[Long]): Unit = t.keyed.purge(s, docIds)

  /** Erase `docIds` from an inverted index: postings first (the doc
    * stops being served), then the manifest rows — N and D are manifest
    * aggregates, so the corpus stats shift exactly as a rebuild would.
    */
  def index(s: SparkSession, t: IndexStore.Store, docIds: Seq[Long]): Unit =
    t.keyed.purge(s, docIds)

  /** Erase `vecIds` from a banded sign-LSH embedding index
    * ([[EmbeddingIndex]] layout: bucketed by (band, bh), rows carry the
    * quantized vector).
    */
  def embeddingIndex(s: SparkSession, table: String,
      vecIds: Seq[Long]): Unit =
    Bucketed.purgeBucketed(s, table, EmbeddingIndex.Buckets, "band",
      Seq("bh"), "vec_id", vecIds)

  /** Erase `vecIds` from a cid-partitioned full-vector clustered layout
    * ([[graft.operators.Similarity.ensureClustered]]).
    */
  def clustered(s: SparkSession, table: String, vecIds: Seq[Long]): Unit =
    Bucketed.purgePartitioned(s, table, "cid", "vec_id", vecIds)

  /** Erase `vecIds` from a cid-partitioned PQ codes table
    * ([[graft.operators.ProductQuant]]).
    */
  def codes(s: SparkSession, table: String, vecIds: Seq[Long]): Unit =
    Bucketed.purgePartitioned(s, table, "cid", "vec_id", vecIds)

  /** Erase `docIds` from a streaming span store
    * ([[graft.streaming.SpanStream]]): per-doc span rows and manifest
    * rows drop; df is re-derived from the surviving span set at read
    * time, so the purged store's (doc_id, h, df) frame is exactly a
    * rebuild's.
    */
  def spanStore(s: SparkSession, t: graft.streaming.SpanStream.Store,
      docIds: Seq[Long]): Unit = t.keyed.purge(s, docIds)

  /** Erase `docIds` from a streaming positioned-span store
    * ([[graft.streaming.CleanStream]]). The tombstone list is RETAINED:
    * it holds only span hashes whose document frequency exceeded the
    * hot-hash bound — corpus-wide boilerplate by definition, not
    * any single document's content — and dropping one would re-open
    * unbounded probe fanout for that hash. Already-emitted cleaned
    * output is downstream data, out of any store's reach (the inherent
    * limit of erasure in a streaming pipeline — re-emit from the purged
    * store if the sink must also forget).
    */
  def cleanStore(s: SparkSession, t: graft.streaming.CleanStream.Store,
      docIds: Seq[Long]): Unit = t.keyed.purge(s, docIds)

  /** Erase `docIds` from the incremental dedup-graph store
    * ([[graft.streaming.GraphStream]]) — the one layout where a delete
    * is NOT row-local: removing a node can SPLIT its cluster (the
    * purged doc may have been the only bridge between two groups of
    * near-dups), so dropping its rows is necessary but not sufficient.
    * The purge therefore relabels the affected subgraph: edges touching
    * the purged docs leave the ledger, and every cluster that contained
    * a purged doc has its labels recomputed from its REMAINING edges
    * with the same CC kernel ingest uses — members that lost their last
    * edge drop out of the label table entirely, exactly as a rebuild
    * from the remaining pair stream would leave them.
    *
    * Scale shape: the affected set is bounded by the delete batch's
    * clusters (the GraphStream touched-cluster discipline — broadcast
    * semi-joins, label side exchange-free); the CC pass runs over the
    * affected clusters' remaining edges, never the whole graph. The
    * label rewrite collapses to gen 0 through [[Bucketed.swap]], like
    * `GraphStream.compact`; a crashed earlier swap of either table is
    * healed on entry.
    */
  def graph(s: SparkSession, t: graft.streaming.GraphStream.Store,
      docIds: Seq[Long]): Unit = {
    import s.implicits._
    import graft.streaming.GraphStream
    Bucketed.recover(s, t.labelTable)
    Bucketed.recover(s, t.edgeTable)
    val lbl = GraphStream.labels(s, t)
    val idsDf = broadcast(docIds.toDF("doc_id"))
    // the purged docs' clusters, captured BEFORE any mutation
    val affected = lbl.join(idsDf, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct().persist()
    try {
      affected.count(): Unit // materialize against the pre-purge ledger
      // drop the purged docs' edges (u side reads the bucketing; the v
      // side rewrite doubles as a compaction)
      Bucketed.purgeBucketed(s, t.edgeTable, GraphStream.Buckets, "u", Nil,
        "u", docIds)
      Bucketed.purgeBucketed(s, t.edgeTable, GraphStream.Buckets, "u", Nil,
        "v", docIds)
      // remaining members of the affected clusters; a surviving edge's
      // endpoints are both members by construction (an edge's docs share
      // a cluster, and edges touching purged docs are gone)
      val members = lbl
        .join(broadcast(affected.select(col("cluster_id"))),
          Seq("cluster_id"), "left_semi")
        .select(col("doc_id"))
        .join(idsDf, Seq("doc_id"), "left_anti")
      val sub = s.table(t.edgeTable)
        .join(members.select(col("doc_id").as("u")), Seq("u"), "left_semi")
      val sym = sub.union(sub.select(col("v"), col("u"))).toDF("u", "v")
      val (merged, _) = graft.operators.Dedup.connectedComponents(
        s, sym, scratchTag = s"forget-${t.edgeTable}")
      val untouched = lbl
        .join(broadcast(affected.select(col("cluster_id"))),
          Seq("cluster_id"), "left_anti")
        .select(col("doc_id"), col("cluster_id"))
      Bucketed.swap(s, s.newSession(), t.labelTable)(
        untouched.union(merged.toDF("doc_id", "cluster_id"))
          .withColumn("gen", lit(0L))
          .write.bucketBy(GraphStream.Buckets, "doc_id").sortBy("doc_id"))
    } finally affected.unpersist()
  }
}
