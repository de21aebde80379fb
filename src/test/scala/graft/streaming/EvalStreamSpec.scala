package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the stream≡batch equivalence of the classifier-evaluation front
  * door: after streaming a corpus through [[EvalStream]] in several
  * micro-batches (with in-stream compaction), the served sliced
  * AUC/best-F1 report is bit-identical to the gated q208 over the same
  * corpus, and the same store serves the gated q212 bias board.
  * Replay, restart, compaction and crash recovery are
  * [[FoldStoreContract]] clauses.
  */
class EvalStreamSpec extends AnyFunSuite with SparkTestSession {
  import org.apache.spark.sql.functions._

  private val dir = "/root/testdata/sf0.001"

  test("streamed grid store serves q208's batch report bit-exactly") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._2)
    // FIXED tag: build()'s dropStale cleans the previous run's table
    val store = EvalStream.build(spark, "spec")
    val ckpt =
      java.nio.file.Files.createTempDirectory("graft-es-ckpt-").toString
    var lastReport: Array[org.apache.spark.sql.Row] = Array.empty

    val src = Sources.queue[(String, Long, String)](spark)
    val query = EvalStream.startIncremental(
      spark,
      src.toDS().toDF("source", "doc_id", "text")
        .select(col("source"), col("text")),
      store, ckpt,
      onBatch = r => lastReport = r.collect(),
      compactEvery = 2)
    try {
      docs.grouped(120).foreach { g =>
        src.addData(g.toSeq)
        query.processAllAvailable()
      }
    } finally query.stop()

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
    val served = EvalStream.serve(spark, store)
      .collect().map(key).sortBy(_._1)
    val batch = graft.operators.TextAnalysis.qClassifierEval
      .build(spark, dir).collect().map(key).sortBy(_._1)
    assert(served.length == batch.length && served.sameElements(batch))

    // the final in-stream report (minus its batch_id column) must be
    // the same rows — the callback sees exactly what serve() sees
    val repKeys = lastReport.map(r =>
      (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))).sortBy(_._1)
    assert(repKeys.sameElements(batch))

    // the SAME store serves the q212 fairness board: per-source (n, k)
    // derive from the grid cells (kept at θ=0 ⇔ score ≥ 0). Exact
    // equality with the gated q212 holds on any corpus without
    // zero-word docs (the grid's labeled universe) — assert the
    // precondition so a testdata regeneration fails loudly here.
    val nZeroWord = graft.Tables.load(spark, dir, "documents")
      .filter(graft.TextMetrics.wordCount(col("text")) === 0L).count()
    assert(nZeroWord == 0L,
      "universe precondition: every doc is scoreable (word count > 0)")
    val bias = EvalStream.serveBias(spark, store)
      .collect().map(_.toString).sorted
    val biasBatch = graft.operators.TextAnalysis.qSourceBias
      .build(spark, dir).collect().map(_.toString).sorted
    assert(bias.sameElements(biasBatch))
  }
}
