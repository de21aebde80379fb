package graft.sources

import graft.SparkTestSession
import graft.operators.{ProductQuant, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Compliance delete across the persisted layouts: a purged store must
  * be BIT-IDENTICAL to one rebuilt from the remaining corpus (under the
  * same frozen codebooks for the vector layouts) — the strongest
  * erasure proof: nothing derived from the purged documents remains,
  * because the purged store is indistinguishable from one that never
  * saw them. Purges must also be idempotent (a crashed-and-retried
  * delete batch re-applies harmlessly).
  */
class ForgetSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def docs() =
    graft.Tables.load(spark, dir, "documents").select("doc_id", "text")

  private def embs() =
    graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding", "label")

  private def rows(table: String): Seq[Seq[Any]] = {
    val df = spark.table(table)
    df.collect()
      .map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toList
        case v => v
      })
      .sortBy(_.mkString("|")).toSeq
  }

  test("signature store: purge ≡ rebuild from remaining docs, idempotently") {
    val t = SignatureStore.build(spark, docs(), s"fgsig${System.nanoTime()}")
    val ids = spark.table(t.sig).select("doc_id").orderBy("doc_id")
      .limit(3).collect().map(_.getLong(0)).toSeq
    assert(ids.size == 3)
    Forget.signatures(spark, t, ids)
    val rebuilt = SignatureStore.build(spark,
      docs().filter(!col("doc_id").isin(ids: _*)),
      s"fgsigre${System.nanoTime()}")
    assert(rows(t.sig) == rows(rebuilt.sig),
      "purged sig table must equal a rebuild from the remaining docs")
    assert(rows(t.bands) == rows(rebuilt.bands),
      "purged bands table must equal a rebuild from the remaining docs")
    // the store still serves: full-corpus pairs match the rebuilt store's
    val p1 = SignatureStore.pairs(spark, t).collect().map(_.toSeq).sortBy(_.mkString)
    val p2 = SignatureStore.pairs(spark, rebuilt).collect().map(_.toSeq).sortBy(_.mkString)
    assert(p1.toSeq == p2.toSeq)
    // idempotent: re-applying the same delete batch changes nothing
    Forget.signatures(spark, t, ids)
    assert(rows(t.sig) == rows(rebuilt.sig))
    assert(rows(t.bands) == rows(rebuilt.bands))
  }

  test("inverted index: purge ≡ rebuild, and BM25 serves the rebuilt scores") {
    val t = IndexStore.build(spark, docs(), s"fgidx${System.nanoTime()}")
    val ids = Seq(1L, 4L, 9L)
    Forget.index(spark, t, ids)
    val rebuilt = IndexStore.build(spark,
      docs().filter(!col("doc_id").isin(ids: _*)),
      s"fgidxre${System.nanoTime()}")
    assert(rows(t.postings) == rows(rebuilt.postings))
    assert(rows(t.manifest) == rows(rebuilt.manifest))
    // serve-time stats (N, D, df) derive from the store, so the purged
    // index scores EXACTLY like the rebuilt one — no stale-df window
    val s1 = graft.operators.Retrieval.bm25ServeFromIndex(spark, t)
      .collect().map(_.toSeq).toSeq
    val s2 = graft.operators.Retrieval.bm25ServeFromIndex(spark, rebuilt)
      .collect().map(_.toSeq).toSeq
    assert(s1 == s2)
    assert(s1.nonEmpty)
  }

  test("sign-LSH embedding index: purge ≡ rebuild from remaining vectors") {
    val table = EmbeddingIndex.build(spark,
      embs().select("vec_id", "embedding"), s"fgemb${System.nanoTime()}")
    val ids = Seq(0L, 2L, 5L)
    Forget.embeddingIndex(spark, table, ids)
    val rebuilt = EmbeddingIndex.build(spark,
      embs().select("vec_id", "embedding")
        .filter(!col("vec_id").isin(ids: _*)),
      s"fgembre${System.nanoTime()}")
    assert(rows(table) == rows(rebuilt))
  }

  test("clustered serving layout: purge ≡ rebuild under the frozen codebook") {
    val cents = Similarity.ensureTrained(spark, dir)
    val table = Similarity.buildClusteredEmpty(spark,
      s"fgclu${System.nanoTime()}")
    Similarity.appendClustered(spark, table, embs(), cents)
    val ids = Seq(0L, 3L, 8L)
    Forget.clustered(spark, table, ids)
    val rebuilt = Similarity.buildClusteredEmpty(spark,
      s"fgclure${System.nanoTime()}")
    Similarity.appendClustered(spark, rebuilt,
      embs().filter(!col("vec_id").isin(ids: _*)), cents)
    assert(rows(table) == rows(rebuilt))
    assert(spark.table(table).filter(col("vec_id").isin(ids: _*)).count() == 0)
  }

  test("streaming span store: purge ≡ rebuild from remaining docs") {
    import graft.streaming.SpanStream
    val t = SpanStream.build(spark, s"fgspan${System.nanoTime()}")
    SpanStream.append(spark, t, docs())
    val ids = Seq(2L, 5L, 12L)
    Forget.spanStore(spark, t, ids)
    val rebuilt = SpanStream.build(spark, s"fgspanre${System.nanoTime()}")
    SpanStream.append(spark, rebuilt,
      docs().filter(!col("doc_id").isin(ids: _*)))
    assert(rows(t.spanTable) == rows(rebuilt.spanTable))
    assert(rows(t.docTable) == rows(rebuilt.docTable))
  }

  test("streaming clean store: purge ≡ rebuild; tombstones retained") {
    import graft.streaming.CleanStream
    val t = CleanStream.build(spark, s"fgclean${System.nanoTime()}")
    CleanStream.cleanAndIngest(spark, t, docs(), minWords = 8).count()
    val ids = Seq(1L, 3L, 7L)
    Forget.cleanStore(spark, t, ids)
    val rebuilt = CleanStream.build(spark, s"fgcleanre${System.nanoTime()}")
    CleanStream.cleanAndIngest(spark, rebuilt,
      docs().filter(!col("doc_id").isin(ids: _*)), minWords = 8).count()
    assert(rows(t.posTable) == rows(rebuilt.posTable))
    assert(rows(t.docTable) == rows(rebuilt.docTable))
    assert(rows(t.tombTable) == rows(rebuilt.tombTable))
  }

  test("graph store: purging a bridge doc SPLITS its cluster, like a rebuild") {
    import graft.streaming.GraphStream
    import spark.implicits._
    val t = GraphStream.build(spark, s"fgg${System.nanoTime()}")
    // chain 1-2-3-4 (one cluster, 2 is a bridge) + separate pair 10-11
    GraphStream.ingest(spark, t,
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
        .toDF("doc_id_1", "doc_id_2"))
    Forget.graph(spark, t, Seq(2L))
    val rebuilt = GraphStream.build(spark, s"fggre${System.nanoTime()}")
    GraphStream.ingest(spark, rebuilt,
      Seq((3L, 4L), (10L, 11L)).toDF("doc_id_1", "doc_id_2"))
    def lbl(st: GraphStream.Store) =
      GraphStream.labels(spark, st).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(lbl(t) == lbl(rebuilt),
      "purged labels must match a rebuild from the remaining pairs")
    // the split is real: doc 1 lost its only edge (no label row, like a
    // rebuild); 3-4 relabeled to min-id 3; 10-11 untouched
    assert(lbl(t) == Seq((3L, 3L), (4L, 3L), (10L, 10L), (11L, 10L)))
    assert(rows(t.edgeTable) == rows(rebuilt.edgeTable))
    // idempotent re-apply
    Forget.graph(spark, t, Seq(2L))
    assert(lbl(t) == lbl(rebuilt))
  }

  test("graph store: a purge over a crashed label compaction heals it") {
    import graft.streaming.GraphStream
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_id_1", "doc_id_2")
    val rebuilt = GraphStream.build(spark, s"fgcre${System.nanoTime()}")
    GraphStream.ingest(spark, rebuilt,
      Seq((3L, 4L), (10L, 11L)).toDF("doc_id_1", "doc_id_2"))
    def lbl(st: GraphStream.Store) =
      GraphStream.labels(spark, st).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    def crashed(writeTwin: GraphStream.Store => Unit): Unit = {
      val t = GraphStream.build(spark, s"fgc${System.nanoTime()}")
      GraphStream.ingest(spark, t, chain)
      writeTwin(t)
      Forget.graph(spark, t, Seq(2L))
      assert(spark.catalog.tableExists(t.labelTable))
      assert(!spark.catalog.tableExists(s"${t.labelTable}_compact"),
        "the purge left the twin behind")
      assert(lbl(t) == lbl(rebuilt),
        "purged labels must match a rebuild from the remaining pairs")
      assert(rows(t.edgeTable) == rows(rebuilt.edgeTable))
    }
    def twinOf(t: GraphStream.Store, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.bucketBy(GraphStream.Buckets, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable(s"${t.labelTable}_compact")
    // (a) a stale twin beside the canonical table: the crash came before
    // the drop, so the purge discards the twin
    crashed(t => twinOf(t,
      Seq((99L, 99L, 0L)).toDF("doc_id", "cluster_id", "gen")))
    // (b) the twin only: the crash came between the drop and the rename
    crashed { t =>
      twinOf(t, spark.table(t.labelTable))
      Bucketed.dropStale(spark, t.labelTable)
      assert(!spark.catalog.tableExists(t.labelTable), "crash state: canonical gone")
    }
  }

  test("graph store: corpus-scale purge ≡ rebuild from the filtered pair set") {
    import graft.streaming.GraphStream
    import spark.implicits._
    val pairs = graft.operators.DupGraph.pairs(spark, dir)
      .select(col("doc_id_1"), col("doc_id_2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(identity)
    assert(pairs.nonEmpty)
    // forget two docs that actually participate in clusters
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted.take(2)
    val t = GraphStream.build(spark, s"fgg2${System.nanoTime()}")
    GraphStream.ingest(spark, t, pairs.toDF("doc_id_1", "doc_id_2"))
    Forget.graph(spark, t, ids)
    val rebuilt = GraphStream.build(spark, s"fgg2re${System.nanoTime()}")
    val remaining = pairs.filterNot(p => ids.contains(p._1) || ids.contains(p._2))
    GraphStream.ingest(spark, rebuilt, remaining.toDF("doc_id_1", "doc_id_2"))
    def lbl(st: GraphStream.Store) =
      GraphStream.labels(spark, st).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(lbl(t) == lbl(rebuilt))
  }

  test("PQ codes: purge ≡ rebuild under the frozen codebooks") {
    val cents = Similarity.ensureTrained(spark, dir)
    val cb = ProductQuant.ensureTrained(spark, dir)
    val emb = embs().select("vec_id", "embedding")
    val table = ProductQuant.build(spark, emb, cents, cb,
      s"fgpq${System.nanoTime()}")
    val ids = Seq(1L, 6L, 7L)
    Forget.codes(spark, table, ids)
    val rebuilt = ProductQuant.build(spark,
      emb.filter(!col("vec_id").isin(ids: _*)), cents, cb,
      s"fgpqre${System.nanoTime()}")
    assert(rows(table) == rows(rebuilt))
  }
}
