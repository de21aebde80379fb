package graft.streaming

import graft.SparkTestSession
import graft.operators.DupGraph
import graft.sources.Bucketed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the incremental connected-components label store:
  *
  *  1. Stream ≡ batch — ingesting the corpus's verified pair list in
  *     chunks (splitting clusters across batches, forcing cross-batch
  *     merges) reproduces the batch [[DupGraph.labels]] exactly, and
  *     compaction changes nothing.
  *  2. Replay is a no-op: re-ingested pairs relabel nothing and ledger
  *     nothing.
  *  3. Cross-batch merges relabel EXISTING clusters: two established
  *     clusters joined by one late edge collapse to the global min id,
  *     including members whose own edges arrived batches earlier.
  *  4. A label compaction that crashed mid-swap heals on the next
  *     compaction or start, with the labels unchanged.
  */
class GraphStreamSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def labelRows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("chunked pair ingest ≡ batch DupGraph labels; replay no-op; compaction stable") {
    import spark.implicits._
    val pairs = DupGraph.pairs(spark, dir)
      .select(col("doc_id_1"), col("doc_id_2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(p => (p._1, p._2))
    assert(pairs.nonEmpty, "gate corpus should have verified pairs")
    val store = GraphStream.build(spark, "spec")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gs-ckpt-").toString

    val src = Sources.queue[(Long, Long)](spark)
    val query = GraphStream.startIncremental(
      spark, src.toDS().toDF("doc_id_1", "doc_id_2"), store, ckpt,
      compactEvery = 2)
    try {
      pairs.grouped(math.max(1, pairs.size / 7)).foreach { g =>
        src.addData(g)
        query.processAllAvailable()
      }
    } finally query.stop()

    val batch = labelRows(DupGraph.labels(spark, dir))
    assert(labelRows(GraphStream.labels(spark, store)) == batch,
      "streamed labels diverged from the batch CC labels")

    // replay: the ledger absorbs re-delivered pairs
    val edgesBefore = spark.table(store.edgeTable).count()
    val logBefore = spark.table(store.labelTable).count()
    GraphStream.ingest(spark, store,
      pairs.take(5).toDF("doc_id_1", "doc_id_2"))
    assert(spark.table(store.edgeTable).count() == edgesBefore,
      "replayed pairs entered the edge ledger")
    assert(spark.table(store.labelTable).count() == logBefore,
      "replayed pairs appended label rows")

    // compaction collapses the log without changing the read
    GraphStream.compact(spark, store)
    assert(labelRows(GraphStream.labels(spark, store)) == batch,
      "compaction changed the labels")
    val collapsed = spark.table(store.labelTable)
    assert(collapsed.count() == batch.size.toLong,
      "compacted log should hold exactly one row per labeled doc")
  }

  test("a late edge merges two established clusters down to the global min id") {
    import spark.implicits._
    val store = GraphStream.build(spark, "specmerge")
    GraphStream.ingest(spark, store, Seq((20L, 30L)).toDF("a", "b"))
    assert(labelRows(GraphStream.labels(spark, store)) == Seq((20L, 20L), (30L, 20L)))
    GraphStream.ingest(spark, store, Seq((40L, 50L)).toDF("a", "b"))
    // the bridge merges both clusters; 20's cluster must relabel to 20
    // ... and a second bridge to a LOWER new node relabels everyone
    GraphStream.ingest(spark, store, Seq((30L, 40L)).toDF("a", "b"))
    assert(labelRows(GraphStream.labels(spark, store)) ==
      Seq((20L, 20L), (30L, 20L), (40L, 20L), (50L, 20L)),
      "bridged clusters must collapse to the min id across BOTH")
    GraphStream.ingest(spark, store, Seq((10L, 50L)).toDF("a", "b"))
    assert(labelRows(GraphStream.labels(spark, store)) ==
      Seq((10L, 10L), (20L, 10L), (30L, 10L), (40L, 10L), (50L, 10L)),
      "a lower-id late arrival must relabel every established member")
  }

  test("restart with a fresh checkpoint cannot rewind generations") {
    import spark.implicits._
    val store = GraphStream.build(spark, "specgen")
    GraphStream.ingest(spark, store, Seq((20L, 30L)).toDF("a", "b"))
    GraphStream.ingest(spark, store, Seq((40L, 50L)).toDF("a", "b"))
    // compact rewrites the log to gen 0; a restarted coordinator
    // (fresh JVM + fresh checkpoint dir → batchId back at 0) must still
    // append ABOVE every stored generation, or max_by(cluster_id, gen)
    // prefers the stale pre-restart labels
    GraphStream.compact(spark, store)
    GraphStream.forgetGen(store)
    GraphStream.ingest(spark, store, Seq((30L, 40L)).toDF("a", "b"))
    assert(labelRows(GraphStream.labels(spark, store)) ==
      Seq((20L, 20L), (30L, 20L), (40L, 20L), (50L, 20L)),
      "post-restart merge lost to stale labels — generation rewound")
    // and WITHOUT the compact: counters re-seed from the live max
    GraphStream.forgetGen(store)
    GraphStream.ingest(spark, store, Seq((10L, 50L)).toDF("a", "b"))
    assert(labelRows(GraphStream.labels(spark, store)) ==
      Seq((10L, 10L), (20L, 10L), (30L, 10L), (40L, 10L), (50L, 10L)),
      "re-seeded generation must beat the uncompacted label log")
  }

  test("literal and broadcast-semi-join star paths produce identical labels") {
    import spark.implicits._
    // chain batches so later ingests touch established clusters (stars
    // non-empty), on two stores: one forced past the literal threshold
    val batches = Seq(
      Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)),
      Seq((2L, 3L), (6L, 7L)),
      Seq((4L, 5L), (9L, 1L)))
    val lit = GraphStream.build(spark, "speclit")
    val bcast = GraphStream.build(spark, "specbcast")
    batches.foreach { b =>
      GraphStream.ingest(spark, lit, b.toDF("a", "b"))
      GraphStream.ingest(spark, bcast, b.toDF("a", "b"), literalThreshold = 0)
    }
    val expect = labelRows(GraphStream.labels(spark, lit))
    assert(expect.nonEmpty && expect.forall(_._2 == 1L),
      "chained batches should collapse to one cluster rooted at 1")
    assert(labelRows(GraphStream.labels(spark, bcast)) == expect,
      "broadcast fallback diverged from the literal path")
  }

  test("a crashed label compaction heals on the next compaction or start") {
    import spark.implicits._
    val store = GraphStream.build(spark, s"speccrash${System.nanoTime()}")
    GraphStream.ingest(spark, store, Seq((20L, 30L), (40L, 50L)).toDF("a", "b"))
    GraphStream.ingest(spark, store, Seq((30L, 40L)).toDF("a", "b"))
    val before = labelRows(GraphStream.labels(spark, store))
    val twin = s"${store.labelTable}_compact"
    def writeTwin(df: DataFrame): Unit =
      df.write.bucketBy(GraphStream.Buckets, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable(twin)
    def twinOnly(): Unit = {
      writeTwin(spark.table(store.labelTable))
      Bucketed.dropStale(spark, store.labelTable)
      assert(!spark.catalog.tableExists(store.labelTable), "crash state: canonical gone")
    }
    def healed(how: String): Unit = {
      assert(spark.catalog.tableExists(store.labelTable), how)
      assert(!spark.catalog.tableExists(twin), s"$how left the twin behind")
      assert(labelRows(GraphStream.labels(spark, store)) == before,
        s"$how changed the labels")
    }

    // (a) a stale twin beside the canonical table: the crash came before
    // the drop, so the next compaction discards the twin
    writeTwin(Seq((99L, 99L, 0L)).toDF("doc_id", "cluster_id", "gen"))
    GraphStream.compact(spark, store)
    healed("compaction over a stale twin")

    // (b) the twin only: the crash came between the drop and the rename
    twinOnly()
    GraphStream.compact(spark, store)
    healed("compaction over a twin-only store")
    twinOnly()
    val src = Sources.queue[(Long, Long)](spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gs-crash-").toString
    val query = GraphStream.startIncremental(
      spark, src.toDS().toDF("doc_id_1", "doc_id_2"), store, ckpt)
    try {
      src.addData((20L, 30L)) // already ledgered: relabels nothing
      query.processAllAvailable()
    } finally query.stop()
    healed("start over a twin-only store")
  }
}
