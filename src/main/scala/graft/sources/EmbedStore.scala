package graft.sources

import graft.functions.{Exact, PolyHash, ProbeCentroids}
import graft.operators.{Retrieval, Scratch}
import graft.streaming.KeyedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted semantic-dedup vector store — the incremental form of
  * q227's multi-assignment SemDeDup ([[WinnowStore]]'s two-table
  * discipline applied to the embedding family): a corpus that grows
  * continuously should not re-assign and re-join 100 TB of vectors to
  * ask "is this new vector a near-dup of anything we already hold".
  * The trained codebook is a LAYOUT the caller owns
  * (`Similarity.ensureTrained` — the q26b convention); every method
  * takes it explicitly so store and gated query share ONE ranking
  * definition ([[graft.functions.ProbeCentroids]]).
  *
  * Two tables, a [[KeyedStore]]:
  *  - `a2(acid, vec_id, qe)` — every stored vector under BOTH of its 2
  *    nearest centroids (q227's assignment), bucketed by `acid`, the
  *    probe key: probing a micro-batch prunes the store to the batch's
  *    cells through a broadcast semi-join and shuffles ONLY batch-sized
  *    frames, however large the corpus.
  *  - `vecs(vec_id, cid, qe)` — manifest (idempotency key, bucketed by
  *    `vec_id`) + primary assignment: [[append]]'s replay guard
  *    anti-joins the batch against THIS table, and [[verdicts]]
  *    recomputes the gated q227 from it order-independently.
  *
  * Order-dependence note (the WinnowStore df-cap rule): [[probe]]'s
  * subgroup split is evaluated against the CURRENT corpus (store +
  * batch cell counts), so per-batch verdicts legitimately depend on
  * ingest order; [[verdicts]] after full ingest is order-independent
  * and bit-identical to the batch q227 (EmbedDedupStreamSpec pins it).
  */
object EmbedStore {

  val A2Buckets = 8
  val VecBuckets = 16

  final case class Store(a2: String, vecs: String) {
    /** `a2` the child, `vecs` the manifest, keyed on `vec_id`. */
    def keyed: KeyedStore = KeyedStore(Seq("vec_id"), Seq(
      KeyedStore.Table(a2, A2Buckets, "acid"),
      KeyedStore.Table(vecs, VecBuckets, "vec_id")))
  }

  /** The 2-nearest assignment rows `(acid, vec_id, qe)` — exactly
    * q227's `semMultiAssign` explosion, shared store/probe/append.
    */
  private def assignRows(v: DataFrame, cents: Seq[Seq[Long]]): DataFrame =
    v.select(explode(ProbeCentroids(col("qe"), cents, 2)).as("acid"),
      col("vec_id"), col("qe"))

  /** Manifest rows `(vec_id, cid, qe)`, cid = rank-1 of the SAME
    * ranking (≡ the clustered layout's NearestCentroid argmax).
    */
  private def vecRows(v: DataFrame, cents: Seq[Seq[Long]]): DataFrame =
    v.select(col("vec_id"),
      element_at(ProbeCentroids(col("qe"), cents, 2), 1).as("cid"),
      col("qe"))

  private def rows(v: DataFrame, cents: Seq[Seq[Long]]): Seq[DataFrame] =
    Seq(assignRows(v, cents), vecRows(v, cents))

  /** Create (or overwrite) the store from a (vec_id, qe) frame. */
  def build(s: SparkSession, vecs: DataFrame, cents: Seq[Seq[Long]],
      tag: String): Store = {
    val t = Store(s"graft_embeda2_$tag", s"graft_embedvecs_$tag")
    t.keyed.build(s, rows(vecs, cents))
    t
  }

  /** Upsert a (vec_id, qe) batch through [[KeyedStore.append]]:
    * replay-idempotent per vec_id, appended with the SAME bucket specs.
    */
  def append(s: SparkSession, t: Store, cents: Seq[Seq[Long]],
      batch: DataFrame): Unit =
    t.keyed.append(s, batch)(rows(_, cents))

  /** Full-corpus q227 verdicts FROM THE STORE — order-independent,
    * bit-identical to the gated `q227_semdedup_multi` over the same
    * corpus (one shared [[Retrieval.semDedupMultiFrom]] plan).
    */
  def verdicts(s: SparkSession, t: Store,
      cents: Seq[Seq[Long]]): DataFrame =
    Retrieval.semDedupMultiFrom(s.table(t.vecs), cents, Retrieval.SemGroup)

  /** Probe a (vec_id, qe) micro-batch against the store BEFORE
    * appending it: `(vec_id, dup_of, n_dups)` for every batch vector
    * within cosine ≥ SemTau of a stored vector sharing an assigned
    * (cell, subgroup) — exactly q227's candidate rule evaluated over
    * store ∪ batch and restricted to (new × stored) pairs. `dup_of` is
    * the lowest matching stored vec_id, `n_dups` the distinct stored
    * matches. Store copies of batch vec_ids are excluded (the replay
    * rule: a replayed batch probes a store already containing itself).
    *
    * Scale shape: the batch assignment flushes once (it feeds the cell
    * counts, the sub split and the pair join); the store leaves its
    * bucketed scan through a broadcast acid semi-join (never shuffled
    * corpus-wide) and flushes once; the combined per-cell counts → m
    * frame is ≤ 2·batch rows and broadcasts; candidates come ONLY from
    * the (acid, sub) equi-join, ≤ ~SemGroup stored rows per batch
    * assignment.
    */
  def probe(s: SparkSession, t: Store, cents: Seq[Seq[Long]],
      batch: DataFrame): DataFrame = {
    val slot = Scratch.probeSlot(t.a2)
    val bfp = Scratch.flush(s, s"embedprobe-b-$slot-${t.a2}",
      assignRows(batch, cents))
    val storeRows = Scratch.flush(s, s"embedprobe-s-$slot-${t.a2}",
      s.table(t.a2)
        .join(broadcast(bfp.select(col("acid")).distinct()), Seq("acid"),
          "left_semi")
        .join(broadcast(batch.select(col("vec_id"))), Seq("vec_id"),
          "left_anti"))
    val nb = bfp.groupBy(col("acid")).agg(count(lit(1)).as("nb"))
    val ns = storeRows.groupBy(col("acid")).agg(count(lit(1)).as("ns"))
    // q227's subgroup arithmetic over the COMBINED corpus cell counts
    val m = nb.join(ns, Seq("acid"), "left")
      .select(col("acid"),
        expr(s"(nb + coalesce(ns, 0L) + ${Retrieval.SemGroup - 1})" +
          s" div ${Retrieval.SemGroup}").as("m"))
    def withSub(df: DataFrame): DataFrame =
      df.join(broadcast(m), Seq("acid"))
        .withColumn("sub", pmod(PolyHash(
          concat(lit("sem|"), col("vec_id").cast("string"))), col("m")))
    withSub(bfp)
      .join(withSub(storeRows)
        .select(col("acid"), col("sub"),
          col("vec_id").as("dup_of"), col("qe").as("sqe")),
        Seq("acid", "sub"))
      .filter(Exact.cosineFromQuantized(col("qe"), col("sqe"))
        >= Retrieval.SemTau)
      .groupBy(col("vec_id"))
      .agg(min(col("dup_of")).as("dup_of"),
        countDistinct(col("dup_of")).as("n_dups"))
  }
}
