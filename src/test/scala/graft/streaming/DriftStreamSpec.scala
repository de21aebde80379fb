package graft.streaming

import graft.SparkTestSession
import graft.operators.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

/** Pins the stream≡batch equivalence of the drift-monitor front door:
  * every per-batch W₁ report equals the gated q149 math over exactly the
  * documents ingested so far, the persisted histogram equals the batch
  * histogram of the full corpus, and a non-empty batch with an empty
  * histogram folds nothing. Replay, restart, compaction and crash
  * recovery are [[FoldStoreContract]] clauses.
  */
class DriftStreamSpec extends AnyFunSuite with SparkTestSession {
  import org.apache.spark.sql.functions._

  private val dir = "/root/testdata/sf0.001"

  private def w1Of(docs: Seq[(Long, String, String)]): Seq[(String, Long, Long)] = {
    import spark.implicits._
    TextAnalysis.wassersteinBySource(
        TextAnalysis.lengthHist(docs.toDF("doc_id", "source", "text")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
  }

  test("per-batch W1 reports ≡ the gated q149 math over the ingested prefix") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    // FIXED tag: build()'s dropStale cleans the previous sbt run's table
    val store = DriftStream.build(spark, "spec")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ds-ckpt-").toString
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, Long, Long)]()

    val src = Sources.queue[(Long, String, String)](spark)
    val query = DriftStream.startIncremental(
      spark, src.toDS().toDF("doc_id", "source", "text"), store, ckpt,
      onBatch = r => r.collect().foreach(row => reports.add(
        (row.getLong(0), row.getString(1), row.getLong(2), row.getLong(3)))),
      compactEvery = 2)
    val batches = docs.grouped(170).toSeq
    try {
      batches.foreach { g =>
        src.addData(g.toSeq)
        query.processAllAvailable()
      }
    } finally query.stop()

    // every batch's report == the batch metric over the prefix seen then
    val byBatch = reports.toArray(Array.empty[(Long, String, Long, Long)])
      .groupBy(_._1)
    assert(byBatch.keySet == batches.indices.map(_.toLong).toSet)
    batches.indices.foreach { k =>
      val got = byBatch(k.toLong).map(t => (t._2, t._3, t._4)).sortBy(_._1).toSeq
      assert(got == w1Of(batches.take(k + 1).flatten),
        s"batch $k report diverged from the gated metric over its prefix")
    }

    // persisted histogram == batch histogram of the full corpus
    val stored = DriftStream.histogram(spark, store).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val batchHist = TextAnalysis.lengthHist(docs.toSeq.toDF("doc_id", "source", "text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(stored == batchHist)

    // final report == gated metric over everything (and over the store)
    val fin = DriftStream.report(spark, store).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(fin == w1Of(docs.toSeq))
  }

  test("a non-empty batch with an empty histogram folds nothing and re-emits the report") {
    import spark.implicits._
    val store = DriftStream.build(spark, "spec_nulls")
    store.append(spark, TextAnalysis.lengthHist(
      Seq((0L, "web", "two words")).toDF("doc_id", "source", "text")), "seed", 0L)
    val before = DriftStream.report(spark, store).collect().toSeq
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ds-ckpt-").toString
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Seq[org.apache.spark.sql.Row]]()
    val src = Sources.queue[(Long, Option[String], Option[String])](spark)
    val query = DriftStream.startIncremental(
      spark, src.toDS().toDF("doc_id", "source", "text"), store, ckpt,
      onBatch = r => emitted.add(r.drop("batch_id").collect().toSeq))
    try {
      src.addData(Seq((1L, None, Some("a null source")), (2L, Some("web"), None)))
      query.processAllAvailable()
    } finally query.stop()
    // the batch probe sees rows, the fold appends none (every doc fails
    // a lengthHist filter), and the report is re-emitted unchanged
    assert(emitted.size == 1 && emitted.peek() == before && before.nonEmpty)
    assert(spark.table(store.table).filter(col("ckpt") === ckpt).count() == 0L)
    graft.sources.Bucketed.dropStale(spark, store.table)
  }
}
