package graft.streaming

import graft.SparkTestSession
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the stream≡batch equivalence of the span-store front door: after
  * streaming a corpus through [[SpanStream]] in several micro-batches
  * (with periodic compaction), the store read back in the batch layout
  * is bit-identical to the batch span pipeline over the same documents,
  * replayed documents append nothing, and the q121/q125 span reports
  * computed off the streamed store equal the gated batch queries.
  */
class SpanStreamSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select(col("doc_id"), col("h"), col("df")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  test("streamed store ≡ batch span pipeline; replay is a no-op; q121/q125 agree") {
    import spark.implicits._
    val docsDf = graft.Tables.load(spark, dir, "documents")
    val docs = docsDf.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // FIXED tag: build()'s dropStale cleans the previous sbt run's table
    val store = SpanStream.build(spark, "spec")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ss-ckpt-").toString

    val src = Sources.queue[(Long, String)](spark)
    val query = SpanStream.startIncremental(
      spark, src.toDS().toDF("doc_id", "text"), store, ckpt, compactEvery = 2)
    try {
      docs.grouped(150).foreach { g =>
        src.addData(g.toSeq)
        query.processAllAvailable()
      }
    } finally query.stop()

    // the batch store build over the same corpus, byte for byte
    val sp = Dedup.spanHashes(docsDf)
    val batch = sp.join(
      sp.groupBy(col("h")).agg(count(lit(1)).as("df")), Seq("h"))
    val streamedRows = rows(SpanStream.spans(spark, store))
    assert(streamedRows == rows(batch),
      "streamed span store diverged from the batch span pipeline")

    // replay idempotency: re-ingesting already-manifested docs changes
    // nothing (the manifest anti-join absorbs them)
    val before = spark.table(store.spanTable).count()
    SpanStream.append(spark, store, docs.take(3).toSeq.toDF("doc_id", "text"))
    assert(spark.table(store.spanTable).count() == before,
      "replayed docs appended span rows")

    // the gated span reports read the streamed store unchanged — same
    // operator code path (containmentFrom / sourceOverlapFrom), equal
    // output to the batch-store-backed gated queries
    val streamed = SpanStream.spans(spark, store)
    val q121Stream = Dedup.containmentFrom(streamed).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).sorted
    val q121Batch = Dedup.qContainment.build(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).sorted
    assert(q121Stream == q121Batch, "q121 over the streamed store diverged")

    val q125Stream = Dedup.sourceOverlapFrom(streamed, docsDf).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    val q125Batch = Dedup.qSourceOverlap.build(spark, dir).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    assert(q125Stream == q125Batch, "q125 over the streamed store diverged")
  }

  test("compaction heals crash-window duplicate span rows") {
    import spark.implicits._
    val store = SpanStream.build(spark, "specdup")
    val batch = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    // simulate the crash window: spans landed, manifest append did not —
    // the replayed append then re-extracts the same spans
    SpanStream.spansOf(batch)
      .write.bucketBy(SpanStream.Buckets, "h").sortBy("h")
      .mode("append").saveAsTable(store.spanTable)
    SpanStream.append(spark, store, batch)
    val spans = spark.table(store.spanTable)
    assert(spans.count() == 2 * spans.distinct().count(),
      "setup should hold every span row twice")
    store.keyed.compact(spark)
    val healed = spark.table(store.spanTable)
    assert(healed.count() == healed.distinct().count(),
      "compactDistinct must drop the duplicated span rows")
    assert(SpanStream.spans(spark, store)
      .filter(col("df") =!= 1L).count() == 0,
      "post-compaction df must be exact again")
  }
}
