package graft.sources

import graft.Tables
import graft.operators.Scratch
import graft.streaming.KeyedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index — the lexical-retrieval twin of the dense
  * stack's clustered/PQ layouts ([[graft.streaming.AnnStream]] /
  * [[graft.streaming.PqStream]] keep those current; this is the store
  * the BM25 side serves from).
  *
  * The batch q93 plan recomputes per-doc term frequencies from raw text
  * per query batch: fine for one report, wasteful for a serving stack.
  * The production middle step is the classic posting-list layout:
  *
  *  - `postings(tok, doc_id, tf, dl)` — one row per (token, document)
  *    with the exact whole-token occurrence count and the document's
  *    token length denormalized in, BUCKETED BY `tok`: a literal term
  *    probe (`tok IN (...)`) prunes to the matching buckets and the
  *    per-term rows, never a corpus scan;
  *  - `manifest(doc_id, dl)` — one row per indexed document, bucketed
  *    by `doc_id`: the corpus stats side (N, total tokens D) and the
  *    idempotent-append guard of the [[KeyedStore]].
  *
  * tf/dl from explode + hash-agg are bit-identical to q93's
  * bracketed-replace counts (both count exact whole-token occurrences),
  * so store-served scores stay oracle-checkable against DuckDB
  * recomputing from raw text — the store round-trip proof is
  * q154 passing q93's UNCHANGED oracle.
  */
object IndexStore {

  val Buckets = 16

  final case class Store(postings: String, manifest: String) {
    /** `postings` the child, `manifest` the manifest, keyed on `doc_id`. */
    def keyed: KeyedStore = KeyedStore(Seq("doc_id"), Seq(
      KeyedStore.Table(postings, Buckets, "tok"),
      KeyedStore.Table(manifest, Buckets, "doc_id")))
  }

  /** (postings rows, manifest rows) for a (doc_id, text) frame: one
    * token explosion + two map-side-combinable aggs.
    */
  def postingsOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val man = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val post = tf.join(man, Seq("doc_id"))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
    (post, man)
  }

  private def rows(docs: DataFrame): Seq[DataFrame] = {
    val (post, man) = postingsOf(docs)
    Seq(post, man)
  }

  /** Create (or overwrite) the store from a corpus — one-time layout
    * cost, like [[Bucketed]]'s CTAS.
    */
  def build(s: SparkSession, docs: DataFrame, tag: String): Store = {
    val t = Store(s"graft_post_$tag", s"graft_docman_$tag")
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

  /** Index a (doc_id, text) batch: its [[KeyedStore.fresh]] rows,
    * [[KeyedStore.commit]]ted, replay-idempotent per doc_id. Until a
    * crash-window duplicate heals, it doubles that batch's tf. The fresh
    * rows are not persisted: both frames read them through one self-joined
    * aggregate, and a persisted input costs the trigger a job (measured).
    */
  def append(s: SparkSession, t: Store, docs: DataFrame): Unit =
    t.keyed.commit(s, rows(t.keyed.fresh(s, docs)))
}
