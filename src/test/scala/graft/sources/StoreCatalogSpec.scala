package graft.sources

import graft.SparkTestSession
import graft.operators.{CoGraph, DupGraph, ProductQuant, ScalarQuant, SemGraph, SpanStore}
import org.scalatest.funsuite.AnyFunSuite

/** Every persisted store is queryable BY NAME from `spark.sql` — the
  * SQL-only user's view of the engine's layouts. Two families:
  *
  *  - warehouse stores (SignatureStore, IndexStore, WinnowStore,
  *    EmbeddingIndex, the clustered ANN layout, PQ/SQ codes) are
  *    `saveAsTable` catalog tables from birth — here we pin that the
  *    SQL round-trip works and the bucketing/partitioning METADATA is
  *    intact (a store whose bucket spec silently dropped would still
  *    answer queries, but with corpus-wide shuffles);
  *  - scratch-memoized layouts (DupGraph, CoGraph, SpanStore) register
  *    an external parquet table per memo build (`Scratch.register`) —
  *    before that they were path-addressed only, invisible to SQL.
  */
class StoreCatalogSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def sqlCount(table: String): Long =
    spark.sql(s"SELECT COUNT(*) AS n FROM $table").head().getLong(0)

  private def describe(table: String): Map[String, String] =
    spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap

  test("scratch-memoized layouts register as external tables (DupGraph/CoGraph/SpanStore)") {
    val dgLabels = DupGraph.labels(spark, dir)
    val cgEdges = CoGraph.edges(spark, dir)
    val spans = SpanStore.spans(spark, dir)

    for ((name, df) <- Seq(
        DupGraph.tableName(spark, dir, "pairs") -> DupGraph.pairs(spark, dir),
        DupGraph.tableName(spark, dir, "edges") -> DupGraph.edges(spark, dir),
        DupGraph.tableName(spark, dir, "labels") -> dgLabels,
        CoGraph.tableName(spark, dir, "edges") -> cgEdges,
        CoGraph.tableName(spark, dir, "labels") -> CoGraph.labels(spark, dir),
        SemGraph.tableName(spark, dir, "pairs") -> SemGraph.pairs(spark, dir),
        SemGraph.tableName(spark, dir, "labels") -> SemGraph.labels(spark, dir),
        SpanStore.tableName(spark, dir) -> spans)) {
      assert(spark.catalog.tableExists(name), s"$name not in the catalog")
      assert(sqlCount(name) == df.count(),
        s"$name SQL count != store frame count")
      // external: dropping the registration must never delete the scratch
      val d = describe(name)
      assert(d.get("Type").exists(_.contains("EXTERNAL")),
        s"$name must be EXTERNAL, got ${d.get("Type")}")
    }
    // schema visible to SQL exactly as the frame exposes it
    assert(spark.sql(s"SELECT v, lbl FROM " +
      CoGraph.tableName(spark, dir, "labels")).columns.toSeq ==
      Seq("v", "lbl"))
  }

  test("catalog names are pinned literally, one per store family") {
    // d<hex of the corpus dir>_p<shuffle partitions of the test session>
    assert(DupGraph.tableName(spark, dir, "labels") ==
      "graft_dupgraph_labels_d4923e80c_p4")
    assert(SpanStore.tableName(spark, dir) == "graft_spanstore_d4923e80c_p4")
    assert(SignatureStore.ensure(spark, dir).sig == "graft_sig_4923e80c")
  }

  test("warehouse stores answer SQL by name with bucketing metadata intact") {
    val sig = SignatureStore.ensure(spark, dir)
    val idx = IndexStore.ensure(spark, dir)
    val win = WinnowStore.ensure(spark, dir)
    val emb = EmbeddingIndex.ensure(spark, dir)
    val clustered = graft.operators.Similarity.ensureClustered(spark, dir)
    val pq = ProductQuant.ensureCodes(spark, dir)
    val sq = ScalarQuant.ensureCodes(spark, dir)

    val bucketed = Seq(
      sig.bands -> "bk", sig.sig -> "doc_id",
      idx.postings -> "tok", idx.manifest -> "doc_id",
      win.fp -> "fp", win.docs -> "doc_id",
      emb -> "band")
    for ((name, keyCol) <- bucketed) {
      assert(sqlCount(name) > 0L, s"$name unqueryable or empty via SQL")
      val d = describe(name)
      assert(d.get("Num Buckets").exists(_.trim.toInt > 0),
        s"$name lost its bucket spec: ${d.get("Num Buckets")}")
      assert(d.get("Bucket Columns").exists(_.contains(keyCol)),
        s"$name bucket column drifted: ${d.get("Bucket Columns")}")
    }
    // partitioned layouts: partition provider must track the cid dirs
    for (name <- Seq(clustered, pq)) {
      assert(sqlCount(name) > 0L, s"$name unqueryable or empty via SQL")
      assert(spark.sql(s"SHOW PARTITIONS $name").count() > 0L,
        s"$name lost its partition entries")
    }
    // SQ8 codes are a flat table (whole-corpus scan by design — the SQ8
    // pass IS a full-scan rerank arm); by-name SQL is the contract
    assert(sqlCount(sq) > 0L, s"$sq unqueryable or empty via SQL")
  }
}
