package graft.streaming

import graft.operators.Dedup
import graft.sources.Bucketed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming front door for the dedup-graph LABEL store — incremental
  * connected components. [[graft.operators.DupGraph]] batch-builds
  * min-id component labels per corpus; under continuous ingest the
  * verified near-dup pairs arrive per micro-batch (CurationStream's
  * probe output is exactly this stream) and a new pair can MERGE two
  * existing clusters, which no append-only layout expresses. This store
  * closes that gap: every persisted layout now has an ingest twin.
  *
  * Mechanics — labels ARE the graph: the label table is merge-on-read
  * (doc_id, cluster_id, gen; latest gen wins, the CdcStream
  * discipline), and a component is recoverable from labels alone as the
  * STAR doc_id ↔ cluster_id. Per batch, the affected subgraph is the
  * label-stars of every cluster touched by a genuinely new edge plus
  * the new edges themselves; one bounded CC pass over that subgraph
  * (the exact batch kernel, [[Dedup.connectedComponents]]) yields the
  * merged min-id labels, appended at the batch's generation. Old
  * PHYSICAL edges never need re-reading — the stars already encode
  * membership — so the edge table serves only as the seen-pair ledger
  * that makes replay a no-op.
  *
  * Failure/replay contract: the store is a [[KeyedStore]] keyed on
  * `(u, v)`, the edge ledger its manifest and the labels its child.
  * Every crash point is self-healing — a replay whose edges are
  * unledgered recomputes from the already-merged stars and appends
  * byte-equal labels at a higher gen (harmless under merge-on-read),
  * then ledgers the edges. The reverse order would strand stale labels
  * forever.
  *
  * Scale shape: per trigger, everything is bounded by the batch and the
  * touched components — the new-edge anti-join probes the u-bucketed
  * ledger exchange-free, touched cluster ids ride as a driver literal
  * (bounded by 2·|batch pairs|, the admission-bounded q60b discipline)
  * up to [[DefaultLiteralThreshold]] and as a broadcast semi-join past
  * it (so a misconfigured admission bound cannot blow the driver), and
  * the CC pass runs over star+batch edges, never the whole graph.
  * Label reads cost one latest-per-key reduction, collapsed by
  * [[compact]] on the maintenance cadence.
  */
object GraphStream {

  val Buckets = 16

  final case class Store(edgeTable: String, labelTable: String) {
    /** `labelTable` the child, `edgeTable` the manifest, keyed on
      * `(u, v)`.
      */
    def keyed: KeyedStore = KeyedStore(Seq("u", "v"), Seq(
      KeyedStore.Table(labelTable, Buckets, "doc_id"),
      KeyedStore.Table(edgeTable, Buckets, "u")))
  }

  /** Create (or overwrite) an empty graph store. */
  def build(s: SparkSession, tag: String): Store = {
    import s.implicits._
    val t = Store(s"graft_graph_$tag", s"graft_graph_labels_$tag")
    genCounters.remove(t.labelTable)
    t.keyed.build(s, Seq(
      Seq.empty[(Long, Long, Long)].toDF("doc_id", "cluster_id", "gen"),
      Seq.empty[(Long, Long)].toDF("u", "v")))
    t
  }

  /** Current labels (doc_id, cluster_id) — latest generation per doc,
    * the merge-on-read reduction. Bit-compatible with
    * [[graft.operators.DupGraph.labels]]' (u, cluster_id) layout after
    * a full ingest (GraphStreamSpec pins it).
    */
  def labels(s: SparkSession, t: Store): DataFrame =
    s.table(t.labelTable)
      .groupBy(col("doc_id"))
      .agg(max_by(col("cluster_id"), col("gen")).as("cluster_id"))

  // Append generations are derived from the STORE, never trusted from
  // the caller: foreachBatch's batchId resets to 0 when a stream is
  // restarted against an existing store with a fresh checkpoint
  // directory, which would make labels()' max_by(cluster_id, gen)
  // prefer stale pre-restart labels over new merge results. One counter
  // per label table, seeded from max(gen)+1 on first touch (one
  // bucketed column scan per JVM, not per trigger), strictly increasing
  // thereafter — monotonicity survives compact()'s rewrite-to-gen-0
  // because the counter only ever moves forward.
  private val genCounters = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.atomic.AtomicLong]

  private def nextGen(s: SparkSession, t: Store): Long =
    genCounters.getOrElseUpdate(t.labelTable, {
      val mx = s.table(t.labelTable)
        .agg(coalesce(max(col("gen")), lit(-1L))).first().getLong(0)
      new java.util.concurrent.atomic.AtomicLong(mx)
    }).incrementAndGet()

  /** Test hook: forget the in-memory generation counter, simulating a
    * coordinating-JVM restart (the counter re-seeds from the table).
    */
  private[graft] def forgetGen(t: Store): Unit = genCounters.remove(t.labelTable)

  /** Above this many touched cluster ids, the driver literal swaps for
    * a broadcast semi-join — the giant-batch fallback that keeps a
    * misconfigured admission bound from blowing the driver with an
    * isin literal while still leaving the label side exchange-free.
    */
  val DefaultLiteralThreshold = 4096

  /** Ingest one batch of verified pairs at the next store generation.
    * Idempotent: a replayed batch's pairs anti-join the ledger and
    * relabel nothing — unless a prior crash lost the ledger append, in
    * which case the relabel recomputes byte-equal labels at a higher
    * gen (see the class contract).
    */
  def ingest(s: SparkSession, t: Store, pairs: DataFrame,
      literalThreshold: Int = DefaultLiteralThreshold): Unit = {
    val canon = pairs.toDF("d1", "d2")
      .select(least(col("d1"), col("d2")).as("u"),
        greatest(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    t.keyed.append(s, canon) { newEdges =>
      val gen = nextGen(s, t)
      val lbl = labels(s, t)
      val endpoints = newEdges.select(col("u").as("doc_id"))
        .union(newEdges.select(col("v"))).distinct()
      val touchedDf = endpoints.join(lbl, Seq("doc_id"))
        .select(col("cluster_id")).distinct().persist()
      // affected subgraph: label-stars of touched clusters + new edges,
      // symmetrized for the CC kernel. Touched ids ride as a driver
      // literal (partition-filterable, label side untouched) up to the
      // threshold; past it they stay distributed as a broadcast
      // semi-join (label side still exchange-free).
      try {
        val touchedSample = touchedDf.limit(literalThreshold + 1).collect()
        val stars =
          if (touchedSample.isEmpty) newEdges.limit(0).toDF("u", "v")
          else if (touchedSample.length <= literalThreshold) {
            val touched = touchedSample.map(_.getLong(0)).toSeq
            lbl.filter(col("cluster_id").isInCollection(touched))
              .filter(col("doc_id") =!= col("cluster_id"))
              .select(col("doc_id").as("u"), col("cluster_id").as("v"))
          } else
            lbl.join(broadcast(touchedDf), Seq("cluster_id"), "left_semi")
              .filter(col("doc_id") =!= col("cluster_id"))
              .select(col("doc_id").as("u"), col("cluster_id").as("v"))
        val half = stars.union(newEdges)
        val sym = half.union(half.select(col("v"), col("u"))).toDF("u", "v")
        // the CC labels are a scratch read, free of touchedDf
        val (merged, _) = Dedup.connectedComponents(
          s, sym, scratchTag = s"graphstream-${t.edgeTable}")
        Seq(merged.toDF("doc_id", "cluster_id").withColumn("gen", lit(gen)),
          newEdges)
      } finally touchedDf.unpersist(): Unit
    }
  }

  /** Collapse the label log to one row per doc (latest gen, renumbered
    * to gen 0) and the edge ledger's append files to one set per
    * bucket. Both rewrites are [[Bucketed.swap]]'s crash-safe twin +
    * rename: every crash point leaves the old log intact or the
    * complete twin that [[Bucketed.recover]] adopts.
    */
  def compact(s: SparkSession, t: Store): Unit = {
    val rw = s.newSession()
    Bucketed.swap(s, rw, t.labelTable)(
      labels(rw, t).withColumn("gen", lit(0L))
        .write.bucketBy(Buckets, "doc_id").sortBy("doc_id"))
    Bucketed.compactDistinct(s, t.edgeTable, Buckets, "u")
  }

  /** The incremental front door: a stream of verified pair rows
    * (doc_id_1, doc_id_2) relabels per micro-batch, through
    * [[Sinks.ingest]] with [[compact]] as its compaction.
    */
  def startIncremental(spark: SparkSession, pairs: DataFrame, store: Store,
      checkpointDir: String, compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, pairs, checkpointDir, store.keyed.names, compactEvery,
        () => compact(spark, store)) { (batch, _) =>
      ingest(spark, store, batch)
    }
}
