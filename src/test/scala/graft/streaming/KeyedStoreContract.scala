package graft.streaming

import scala.jdk.CollectionConverters._

import graft.{SparkTestSession, Tables, TextMetrics}
import graft.functions.Exact
import graft.operators.{Corpus, Dedup, Retrieval, Similarity}
import graft.sources.{Bucketed, EmbedStore, EmbeddingIndex, IndexStore, SignatureStore, WinnowStore}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The executable [[KeyedStore]] CONTRACT — the replay, crash-window,
  * compaction and visibility behavior every keyed append store rests
  * on, as a fixture a store passes by providing one factory per hook
  * (the [[FoldStoreContract]] pattern). The nine keyed stores and the
  * [[EmbeddingIndex]] pass it below, each through its own front door.
  *
  * Contract clauses, over three 50-row slices of the committed sf0.001
  * corpus fed as micro-batches:
  *  - (a) the view after streaming equals the view of a store fed the
  *    same slices directly, and (f) after each batch the coordinating
  *    session sees the batch in the manifest; (d) compaction then
  *    leaves the view unchanged and every table equal to the compacted
  *    direct store's, row for row;
  *  - (b) re-offering the latest slice, and restarting the front door
  *    on a fresh checkpoint over all slices, leave every table's row
  *    count and the view unchanged;
  *  - (c) for the stores with a child table and one `Long` key: a crash
  *    between the child and manifest appends (the last slice's keys
  *    purged from the manifest only), then a replay through the front
  *    door, loses no key, and after compaction every table equals the
  *    direct store's;
  *  - (e) a crash at either step of the rename swap — a stale `_compact`
  *    twin beside each table, or only the complete twin left — heals on
  *    the next start or compaction, with the view unchanged.
  * Clauses (c) and (e) fill their store directly: only the replay and
  * the heal need the front door.
  */
trait KeyedStoreContract extends AnyFunSuite with SparkTestSession {

  type Store

  /** Store label (test-name prefix and table tag). */
  def kind: String

  /** The front door's input columns over the corpus, in a fixed order. */
  def input: DataFrame

  /** A fresh, empty store. */
  def build(tag: String): Store

  /** The store's front door over `in`. */
  def start(store: Store, in: DataFrame, ckpt: String,
      compactEvery: Int): StreamingQuery

  /** What the front door does with one batch, run directly. */
  def feed(store: Store, batch: DataFrame): Unit

  /** The store's served read. */
  def view(store: Store): DataFrame

  /** The store's catalog tables, manifest last. */
  def tables(store: Store): Seq[String]

  /** The store's compaction. */
  def compact(store: Store): Unit

  /** The store as a [[KeyedStore]], for the stores with a child table
    * and one `Long` key (clause (c)); `None` for the others.
    */
  def keyed: Option[Store => KeyedStore] = None

  protected val dir = "/root/testdata/sf0.001"

  private lazy val schema = input.schema
  private lazy val slices: Seq[Seq[Row]] =
    input.limit(150).collect().toSeq.grouped(50).toSeq

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def counts(store: Store): Seq[Long] =
    tables(store).map(spark.table(_).count())

  private def contents(store: Store): Seq[Seq[String]] =
    tables(store).map(t => rows(spark.table(t)))

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory(s"graft-keyed-$kind-").toString

  /** Stream `batches` through the front door, calling `after(i)` once
    * batch `i` is processed.
    */
  private def ingest(store: Store, ckpt: String, batches: Seq[Seq[Row]],
      compactEvery: Int = 0)(after: Int => Unit = _ => ()): Unit = {
    val src = Sources.queue[Row](spark)(Encoders.row(schema))
    val q = start(store, src.toDF(), ckpt, compactEvery)
    try batches.zipWithIndex.foreach { case (b, i) =>
      src.addData(b)
      q.processAllAvailable()
      after(i)
    } finally q.stop()
  }

  private def withStore[A](tag: String)(body: Store => A): A = {
    val store = build(s"keyed_${kind}_$tag")
    try body(store) finally tables(store).foreach { t =>
      Bucketed.dropStale(spark, t)
      Bucketed.dropStale(spark, s"${t}_compact")
    }
  }

  /** The store fed the slices directly: its manifest count after each
    * slice, its view, and its rows after compaction.
    */
  private lazy val direct: (Seq[Long], Seq[String], Seq[Seq[String]]) =
    withStore("direct") { ref =>
      val manifest = slices.map { b =>
        feed(ref, frame(b))
        spark.table(tables(ref).last).count()
      }
      val v = rows(view(ref))
      compact(ref)
      (manifest, v, contents(ref))
    }

  test(s"[$kind] (a, d, f) streamed ≡ direct, each batch visible, compaction keeps the view and the rows") {
    val (manifest, directView, directRows) = direct
    withStore("stream") { store =>
      ingest(store, fresh(), slices, compactEvery = 2) { i =>
        assert(spark.table(tables(store).last).count() == manifest(i),
          s"batch $i is not visible in the manifest to the coordinating session")
      }
      val v = rows(view(store))
      assert(v.nonEmpty && v == directView, "streamed view ≠ direct view")
      compact(store)
      assert(rows(view(store)) == v, "compaction changed the view")
      assert(contents(store) == directRows,
        "compacted rows ≠ the compacted direct store's")
    }
  }

  test(s"[$kind] (b) a re-offered slice and a fresh-checkpoint restart append nothing") {
    withStore("replay") { store =>
      var before = (Seq.empty[Long], Seq.empty[String])
      ingest(store, fresh(), slices :+ slices.last) { i =>
        if (i == slices.size - 1) before = (counts(store), rows(view(store)))
      }
      assert(before._2.nonEmpty)
      assert((counts(store), rows(view(store))) == before,
        "re-offering the latest slice changed the store")
      ingest(store, fresh(), slices)()
      assert((counts(store), rows(view(store))) == before,
        "a fresh-checkpoint restart changed the store")
    }
  }

  keyed.foreach { keyedOf =>
    test(s"[$kind] (c) a crash between the child and manifest appends loses no key and heals on compaction") {
      val (_, _, directRows) = direct
      withStore("crash") { store =>
        val k = keyedOf(store)
        slices.foreach(b => feed(store, frame(b)))
        val m = k.tables.last
        val key = k.keys.head
        def keys(): Seq[String] =
          rows(spark.table(m.name).select(col(key)).distinct())
        val stored = keys()
        val ids = frame(slices.last).select(col(key)).collect()
          .map(_.getLong(0)).toSeq
        Bucketed.purgeBucketed(spark, m.name, m.buckets, m.bucket, Nil, key,
          ids)
        assert(keys() != stored, "the simulated crash purged nothing")
        ingest(store, fresh(), Seq(slices.last))()
        assert(keys() == stored, "the replay lost a key")
        compact(store)
        assert(contents(store) == directRows,
          "the healed rows ≠ the compacted direct store's")
      }
    }
  }

  test(s"[$kind] (e) a crash at either step of the rename swap heals on the next start or compaction") {
    withStore("swap") { store =>
      slices.foreach(b => feed(store, frame(b)))
      val v = rows(view(store))
      def twin(t: String) = s"${t}_compact"
      // (a) the swap died before dropping the canonical table: a stale,
      // partial twin sits beside it
      def staleTwin(): Unit = tables(store).foreach(t =>
        spark.table(t).limit(1).write.mode("overwrite").saveAsTable(twin(t)))
      // (b) the swap died between the drop and the rename: only the
      // complete twin is left
      def twinOnly(): Unit = tables(store).foreach(t =>
        spark.sql(s"ALTER TABLE $t RENAME TO ${twin(t)}"))
      def restart(): Unit = ingest(store, fresh(), Nil)()
      def compaction(): Unit = compact(store)
      for ((crash, state, heal, entry) <- Seq(
          (staleTwin _, "a", restart _, "start"),
          (staleTwin _, "a", compaction _, "compaction"),
          (twinOnly _, "b", restart _, "start"),
          (twinOnly _, "b", compaction _, "compaction"))) {
        crash()
        heal()
        tables(store).foreach { t =>
          assert(spark.catalog.tableExists(t),
            s"crash state ($state): the $entry did not restore $t")
          if (entry == "compaction")
            assert(!spark.catalog.tableExists(twin(t)),
              s"crash state ($state): the compaction left the twin of $t")
        }
        assert(rows(view(store)) == v,
          s"crash state ($state): the view changed after the $entry")
      }
    }
  }
}

/** A front door whose input is (doc_id, text) documents. */
trait DocsInput extends KeyedStoreContract {
  def input: DataFrame = Tables.load(spark, dir, "documents")
    .orderBy("doc_id").select("doc_id", "text")
}

class SignatureKeyedStoreSpec extends KeyedStoreContract {
  type Store = SignatureStore.Store
  def kind = "signature"
  // documents that pass curation unchanged — quality-filtered, one per
  // text, at one event time — so the front door's curation (pinned by
  // CurationStreamSpec) is the identity and a direct feed is comparable
  def input = {
    val words = TextMetrics.wordCount(col("text"))
    Tables.load(spark, dir, "documents")
      .filter(col("n_chars").between(50, 10000) &&
        TextMetrics.stopRatio(words, TextMetrics.stopCount(col("text"))) < 0.5)
      .groupBy("text", "n_chars").agg(min("doc_id").as("doc_id"))
      .orderBy("doc_id")
      .select(col("doc_id"), to_timestamp(lit("2026-01-01 00:00:00")).as("ts"),
        col("text"), col("n_chars"))
  }
  def build(tag: String) =
    SignatureStore.build(spark, input.select("doc_id", "text").limit(0), tag)
  def start(t: Store, in: DataFrame, ckpt: String, every: Int) =
    CurationStream.startIncremental(spark, in, t, ckpt, _ => (),
      compactEvery = every)
  def feed(t: Store, b: DataFrame) = {
    val c = b.select("doc_id", "text")
    SignatureStore.append(spark, t, c.join(
      SignatureStore.probe(spark, t, c).select("doc_id"), Seq("doc_id"),
      "left_anti"))
  }
  def view(t: Store) = SignatureStore.pairs(spark, t)
  def tables(t: Store) = t.keyed.names
  def compact(t: Store) = t.keyed.compact(spark)
  override def keyed = Some((t: Store) => t.keyed)
}

class WinnowKeyedStoreSpec extends DocsInput {
  type Store = WinnowStore.Store
  def kind = "winnow"
  def build(tag: String) = WinnowStore.build(spark, input.limit(0), tag)
  def start(t: Store, in: DataFrame, ckpt: String, every: Int) =
    WinnowStream.startIncremental(spark, in, t, ckpt, _ => (),
      compactEvery = every)
  def feed(t: Store, b: DataFrame) =
    WinnowStore.append(spark, t, b.join(WinnowStore.probe(spark, t, b)
      .filter(col("shared") >= Dedup.WinnowMinShared)
      .select("doc_id"), Seq("doc_id"), "left_anti"))
  def view(t: Store) = WinnowStore.pairs(spark, t)
  def tables(t: Store) = t.keyed.names
  def compact(t: Store) = t.keyed.compact(spark)
  override def keyed = Some((t: Store) => t.keyed)
}

class IndexKeyedStoreSpec extends DocsInput {
  type Store = IndexStore.Store
  def kind = "index"
  def build(tag: String) = IndexStore.build(spark, input.limit(0), tag)
  def start(t: Store, in: DataFrame, ckpt: String, every: Int) =
    IndexStream.startIncremental(spark, in, t, ckpt, every)
  def feed(t: Store, b: DataFrame) = IndexStore.append(spark, t, b)
  def view(t: Store) = Retrieval.bm25ServeFromIndex(spark, t)
  def tables(t: Store) = t.keyed.names
  def compact(t: Store) = t.keyed.compact(spark)
  override def keyed = Some((t: Store) => t.keyed)
}

/** In index-build mode: withholding verdicts read the current corpus's
  * cell counts, so re-offering earlier slices to a grown store may admit
  * a vector the first pass withheld (the order dependence EmbedStore
  * documents); EmbedDedupStreamSpec pins the withholding mode.
  */
class EmbedKeyedStoreSpec extends KeyedStoreContract {
  type Store = EmbedStore.Store
  def kind = "embed"
  private lazy val cents = Similarity.ensureTrained(spark, dir)
  def input = Tables.load(spark, dir, "embeddings").orderBy("vec_id")
    .select("vec_id", "embedding")
  private def quantized(v: DataFrame) =
    v.select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
  def build(tag: String) =
    EmbedStore.build(spark, quantized(input.limit(0)), cents, tag)
  def start(t: Store, in: DataFrame, ckpt: String, every: Int) =
    EmbedDedupStream.startIncremental(spark, in, cents, t, ckpt, _ => (),
      withhold = false, compactEvery = every)
  def feed(t: Store, b: DataFrame) =
    EmbedStore.append(spark, t, cents, quantized(b))
  def view(t: Store) = EmbedStore.verdicts(spark, t, cents)
  def tables(t: Store) = t.keyed.names
  def compact(t: Store) = t.keyed.compact(spark)
  override def keyed = Some((t: Store) => t.keyed)
}

class SpanKeyedStoreSpec extends DocsInput {
  type Store = SpanStream.Store
  def kind = "span"
  def build(tag: String) = SpanStream.build(spark, tag)
  def start(t: Store, in: DataFrame, ckpt: String, every: Int) =
    SpanStream.startIncremental(spark, in, t, ckpt, every)
  def feed(t: Store, b: DataFrame) = SpanStream.append(spark, t, b)
  def view(t: Store) = SpanStream.spans(spark, t)
  def tables(t: Store) = t.keyed.names
  def compact(t: Store) = t.keyed.compact(spark)
  override def keyed = Some((t: Store) => t.keyed)
}

class CleanKeyedStoreSpec extends DocsInput {
  type Store = CleanStream.Store
  def kind = "clean"
  def build(tag: String) = CleanStream.build(spark, tag)
  def start(t: Store, in: DataFrame, ckpt: String, every: Int) =
    CleanStream.startIncremental(spark, in, t, 8, ckpt, _ => (), every)
  def feed(t: Store, b: DataFrame) =
    CleanStream.cleanAndIngest(spark, t, b, 8): Unit
  def view(t: Store) = spark.table(t.posTable)
  def tables(t: Store) = t.tomb.names ++ t.keyed.names
  def compact(t: Store) = CleanStream.compact(spark, t)
  override def keyed = Some((t: Store) => t.keyed)
}

class ChunkKeyedStoreSpec extends DocsInput {
  type Store = ChunkStream.Store
  def kind = "chunk"
  def build(tag: String) = ChunkStream.build(spark, tag)
  def start(t: Store, in: DataFrame, ckpt: String, every: Int) =
    ChunkStream.startIncremental(spark, in, t, ckpt, _ => (), every)
  def feed(t: Store, b: DataFrame) =
    t.keyed.append(spark, ChunkStream.chunksOf(b))(ChunkStream.rows)
  def view(t: Store) = ChunkStream.stats(spark, t)
  def tables(t: Store) = t.keyed.names
  def compact(t: Store) = t.keyed.compact(spark)
}

class TokenKeyedStoreSpec extends KeyedStoreContract {
  type Store = TokenStream.Store
  def kind = "token"
  private lazy val merges = Corpus.ensureBpeMerges(spark, dir)
  def input = Tables.load(spark, dir, "documents").orderBy("doc_id")
    .select("source", "doc_id", "text")
  def build(tag: String) = TokenStream.build(spark, tag)
  def start(t: Store, in: DataFrame, ckpt: String, every: Int) =
    TokenStream.startIncremental(spark, in, merges, t, ckpt, _ => (), every)
  def feed(t: Store, b: DataFrame) =
    t.keyed.append(spark, Corpus.tokenize(b, merges))(TokenStream.rows)
  def view(t: Store) = TokenStream.shards(spark, t, Corpus.TokenShardBudget)
  def tables(t: Store) = t.keyed.names
  def compact(t: Store) = t.keyed.compact(spark)
}

class GraphKeyedStoreSpec extends KeyedStoreContract {
  type Store = GraphStream.Store
  def kind = "graph"
  // every document joined to one of 23 hubs: each slice grows clusters
  // that earlier slices started
  def input = Tables.load(spark, dir, "documents").orderBy("doc_id")
    .select(col("doc_id").as("doc_id_1"), pmod(col("doc_id"), lit(23L))
      .as("doc_id_2"))
  def build(tag: String) = GraphStream.build(spark, tag)
  def start(t: Store, in: DataFrame, ckpt: String, every: Int) =
    GraphStream.startIncremental(spark, in, t, ckpt, every)
  def feed(t: Store, b: DataFrame) = GraphStream.ingest(spark, t, b)
  def view(t: Store) = GraphStream.labels(spark, t)
  def tables(t: Store) = t.keyed.names
  def compact(t: Store) = GraphStream.compact(spark, t)
}

class EmbeddingIndexKeyedStoreSpec extends KeyedStoreContract {
  type Store = String
  def kind = "embidx"
  def input = Tables.load(spark, dir, "embeddings").orderBy("vec_id")
    .select("vec_id", "embedding")
  def build(tag: String) = EmbeddingIndex.build(spark, input.limit(0), tag)
  def start(t: Store, in: DataFrame, ckpt: String, every: Int) =
    EmbeddingStream.startIncremental(spark, in, t, ckpt, compactEvery = every)
  def feed(t: Store, b: DataFrame) = EmbeddingIndex.appendFresh(spark, t, b)
  def view(t: Store) = EmbeddingIndex.pairs(spark, t)
  def tables(t: Store) = Seq(t)
  def compact(t: Store) = EmbeddingIndex.compact(spark, t)
}
