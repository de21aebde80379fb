package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the stream≡batch equivalence of the chunk-dedup front door: after
  * streaming a corpus through [[ChunkStream]] in several micro-batches,
  * the persisted store and the summed per-batch reports reproduce q126's
  * batch KPI exactly, and replayed chunks never double-append.
  */
class ChunkStreamSpec extends AnyFunSuite with SparkTestSession {
  import org.apache.spark.sql.functions._

  private val dir = "/root/testdata/sf0.001"

  test("streamed corpus reproduces q126's batch KPI exactly") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // FIXED tag: build()'s dropStale then cleans the previous run's
    // table — a nanoTime tag would leak one warehouse table per sbt run
    val store = ChunkStream.build(spark, "spec")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cs-ckpt-").toString
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Long, Long, Long)]()

    val src = Sources.queue[(Long, String)](spark)
    val query = ChunkStream.startIncremental(
      spark, src.toDS().toDF("doc_id", "text"), store, ckpt,
      onBatch = r => r.collect().foreach(row => reports.add(
        (row.getLong(0), row.getLong(1), row.getLong(2),
          row.getLong(3), row.getLong(4)))),
      compactEvery = 2)
    try {
      docs.grouped(200).foreach { g =>
        src.addData(g.toSeq)
        query.processAllAvailable()
      }
    } finally query.stop()

    val batch = graft.operators.TextAnalysis.qChunkDedup
      .build(spark, dir).collect().head
    val (bChunksTotal, bChunksDistinct) = (batch.getLong(0), batch.getLong(1))
    val (bTokensTotal, bTokensDistinct) = (batch.getLong(2), batch.getLong(3))

    // store contents == batch distinct set
    val st = ChunkStream.stats(spark, store).collect().head
    assert(st.getLong(0) == bChunksDistinct)
    assert(st.getLong(1) == bTokensDistinct)

    // summed reports == batch totals; summed news == batch distincts
    // (in-batch repeats of a NEW chunk count once in chunks_new — same
    // distinct-first accounting as the batch KPI)
    val rs = reports.toArray(Array.empty[(Long, Long, Long, Long, Long)])
    assert(rs.map(_._2).sum == bChunksTotal)
    assert(rs.map(_._4).sum == bTokensTotal)
    assert(rs.map(_._3).sum == bChunksDistinct)
    assert(rs.map(_._5).sum == bTokensDistinct)

    // replay idempotency: re-appending an already-streamed batch's
    // chunks changes nothing
    val replay = ChunkStream.chunksOf(
      Seq(docs.head).toDF("doc_id", "text"))
    store.keyed.append(spark, replay)(ChunkStream.rows)
    val st2 = ChunkStream.stats(spark, store).collect().head
    assert(st2.getLong(0) == bChunksDistinct && st2.getLong(1) == bTokensDistinct)
  }
}
