package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the stream≡batch equivalence of the token-shard front door:
  * after streaming a corpus through [[TokenStream]] in several
  * micro-batches, the shard VIEW over the persisted token store is
  * bit-identical to batch q203 over the same corpus, per-batch reports
  * account for every token exactly once, and replayed documents never
  * double-append.
  */
class TokenStreamSpec extends AnyFunSuite with SparkTestSession {
  import org.apache.spark.sql.functions._

  private val dir = "/root/testdata/sf0.001"

  test("streamed token store serves q203's batch shards bit-exactly") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._2)
    val merges = graft.operators.Corpus.ensureBpeMerges(spark, dir)
    // FIXED tag: build()'s dropStale cleans the previous run's table
    val store = TokenStream.build(spark, "spec")
    val ckpt =
      java.nio.file.Files.createTempDirectory("graft-ts-ckpt-").toString
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Long, Long)]()

    val src = Sources.queue[(String, Long, String)](spark)
    val query = TokenStream.startIncremental(
      spark, src.toDS().toDF("source", "doc_id", "text"), merges, store,
      ckpt,
      onBatch = r => r.collect().foreach(row => reports.add(
        (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)))),
      compactEvery = 2)
    try {
      docs.grouped(150).foreach { g =>
        src.addData(g.toSeq)
        query.processAllAvailable()
      }
    } finally query.stop()

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val served = TokenStream
      .shards(spark, store, graft.operators.Corpus.TokenShardBudget)
      .collect().map(key).sortBy(identity)
    val batch = graft.operators.Corpus.qTokenShards
      .build(spark, dir).collect().map(key).sortBy(identity)
    assert(served.length == batch.length)
    assert(served.sameElements(batch))

    // per-batch accounting: every doc and token new exactly once
    val rs = reports.toArray(Array.empty[(Long, Long, Long, Long)])
    assert(rs.map(_._2).sum == docs.length)
    assert(rs.map(_._3).sum == docs.length)
    assert(rs.map(_._4).sum == batch.length)

    // replay idempotency: re-appending an already-streamed document's
    // tokens changes nothing
    val storedBefore = spark.table(store.table).count()
    store.keyed.append(spark,
      graft.operators.Corpus.tokenize(
        Seq(docs.head).toDF("source", "doc_id", "text"), merges))(
      TokenStream.rows)
    assert(spark.table(store.table).count() == storedBefore)
  }
}
