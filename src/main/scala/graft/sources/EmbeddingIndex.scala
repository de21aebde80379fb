package graft.sources

import graft.Tables
import graft.functions.Exact
import graft.operators.{Scratch, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted banded sign-LSH embedding index — the embedding twin of
  * [[SignatureStore]]: quantized vectors with one row per LSH band
  * (band, band-hash), bucketed-by-(band, bh) on disk, so
  *
  *  - probing a new batch of embeddings shuffles ONLY the batch side
  *    (the store is read in place through its bucketing), and
  *  - the full-corpus near-dup pair scan is a bucketed SELF-join —
  *    exchange-free on BOTH sides.
  *
  * The index row carries the quantized vector itself, so cosine
  * verification needs no second lookup join (unlike the text store,
  * where the shingle sets live in a separate `sig` table). Same
  * quantization/band math as q25 ([[Similarity.withBandRows]] /
  * [[Exact.quantize]]) — index-derived pairs are bit-identical to the
  * from-raw-embedding computation, so they stay oracle-checkable.
  * Banding (4 × 16 planes, 2^16 ids per band) rather than one flat
  * 256-id bucket keeps within-bucket pairing near-linear in N — the
  * 100 TB shape.
  */
object EmbeddingIndex {

  val Buckets = 16
  private val CosThreshold = 0.3

  /** (vec_id, qe, band, bh) rows for a (vec_id, embedding) DataFrame —
    * one row per band per vector.
    */
  def indexRows(emb: DataFrame): DataFrame =
    Similarity.withBandRows(
      emb.select(col("vec_id"), Exact.quantize(col("embedding")).as("qe")))

  def build(s: SparkSession, emb: DataFrame, tag: String): String = {
    val table = s"graft_embidx_$tag"
    Bucketed.dropStale(s, table)
    Bucketed.write(indexRows(emb), table, Buckets, "band", "bh")
    table
  }

  private val prepared = new Scratch.Memo[String, String]

  /** The index over `dir`'s embeddings table (built on first use). */
  def ensure(s: SparkSession, dir: String): String =
    prepared(dir)(build(s,
      Tables.load(s, dir, "embeddings").select("vec_id", "embedding"),
      Scratch.dirHash(dir)))

  /** IDEMPOTENT upsert for the at-least-once streaming front door: a
    * replayed micro-batch re-offers vec_ids that are already indexed.
    * Already-stored detection rides the (band, bh) equi-join — the
    * store side stays exchange-free through its bucketing (vec_id
    * equality is an extra predicate on the same join: equal vec_ids
    * imply equal band hashes, so co-location on (band, bh) suffices) —
    * and the anti-join drops re-offered vectors instead of duplicating
    * their index rows forever. This guard is why the index is no
    * [[graft.streaming.KeyedStore]]: it rides the (band, bh) bucketing,
    * and there is no vec_id-bucketed manifest to anti-join.
    */
  def appendFresh(s: SparkSession, table: String, emb: DataFrame): Unit = {
    val rows = indexRows(emb)
    val stored = rows.alias("n")
      .join(s.table(table).alias("o"),
        col("n.band") === col("o.band") && col("n.bh") === col("o.bh")
          && col("n.vec_id") === col("o.vec_id"), "left_semi")
      .select(col("vec_id")).distinct()
    rows.join(stored, Seq("vec_id"), "left_anti")
      .write.bucketBy(Buckets, "band", "bh").sortBy("band", "bh")
      .mode("append").saveAsTable(table)
  }

  /** Compact the index's per-append file sets ([[Bucketed.compact]]). */
  def compact(s: SparkSession, table: String): Unit =
    Bucketed.compact(s, table, Buckets, "band", "bh")

  /** Probe a (vec_id, embedding) batch against the index: verified
    * near-dups `(vec_id, dup_of, cos_sim)` with an already-indexed
    * vector. Candidates ONLY from the (band, bh) equi-join; the store
    * side never shuffles; multi-band collisions collapse through the
    * DISTINCT (cos_sim is deterministic per pair).
    */
  def probe(s: SparkSession, table: String, batch: DataFrame): DataFrame =
    indexRows(batch).alias("n")
      .join(s.table(table).alias("o"),
        col("n.band") === col("o.band") && col("n.bh") === col("o.bh")
          && col("n.vec_id") =!= col("o.vec_id"))
      .select(col("n.vec_id").as("vec_id"), col("o.vec_id").as("dup_of"),
        Exact.cosineFromQuantized(col("n.qe"), col("o.qe")).as("cos_sim"))
      .filter(col("cos_sim") >= CosThreshold)
      .distinct()
      // a REPLAYED batch (at-least-once foreachBatch) probes an index
      // that already contains the batch itself; batch-local vec_ids are
      // not "previously indexed", so they are excluded from dup_of —
      // replay verdicts match the original run's (in normal operation
      // this anti-join is a no-op: probe runs before append)
      .join(batch.select(col("vec_id").as("dup_of")), Seq("dup_of"), "left_anti")

  /** Full-corpus verified near-dup pairs FROM THE INDEX — the q25
    * result as a bucketed self-join, exchange-free on both sides (the
    * only exchange left is the final pair-dedup DISTINCT, over the
    * already-verified pair set).
    */
  def pairs(s: SparkSession, table: String): DataFrame = {
    val idx = s.table(table)
    idx.alias("a")
      .join(idx.alias("c"),
        col("a.band") === col("c.band") && col("a.bh") === col("c.bh")
          && col("a.vec_id") < col("c.vec_id"))
      .select(col("a.vec_id").as("vec_id_1"), col("c.vec_id").as("vec_id_2"),
        Exact.cosineFromQuantized(col("a.qe"), col("c.qe")).as("cos_sim"))
      .filter(col("cos_sim") >= CosThreshold)
      .distinct()
  }

  /** q52 — q25's near-dup pairs computed from the PERSISTED index
    * instead of re-quantizing/re-banding the corpus; oracled against
    * q25's unchanged from-raw-embeddings SQL, proving the index
    * round-trip is bit-exact.
    */
  val qEmbedNearDupIndex: graft.QuerySpec = graft.QuerySpec(
    "q52_embed_neardup_index",
    (s, dir) => pairs(s, ensure(s, dir)),
    Similarity.qEmbedNearDup.oracle)

  val specs: Seq[graft.QuerySpec] = Seq(qEmbedNearDupIndex)
}
