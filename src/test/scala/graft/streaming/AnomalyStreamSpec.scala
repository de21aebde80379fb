package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the stream≡batch equivalence of the anomaly front door: after
  * streaming a corpus of events through [[AnomalyStream]] in several
  * micro-batches (with in-stream compaction), the served EWMA anomaly
  * board is bit-identical to the gated q214 over the same events.
  * Replay, restart, compaction and crash recovery are
  * [[FoldStoreContract]] clauses.
  */
class AnomalyStreamSpec extends AnyFunSuite with SparkTestSession {
  import org.apache.spark.sql.functions._

  private val dir = "/root/testdata/sf0.001"

  test("streamed count store serves q214's batch board bit-exactly") {
    import spark.implicits._
    val events = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)))
    val store = AnomalyStream.build(spark, "spec")
    val ckpt =
      java.nio.file.Files.createTempDirectory("graft-as-ckpt-").toString
    var lastReport: Array[org.apache.spark.sql.Row] = Array.empty

    val src = Sources.queue[(String, java.sql.Timestamp)](spark)
    val query = AnomalyStream.startIncremental(
      spark, src.toDS().toDF("event_type", "ts"),
      store, ckpt,
      onBatch = r => lastReport = r.collect(),
      compactEvery = 2)
    try {
      events.grouped((events.length + 3) / 4).foreach { g =>
        src.addData(g.toSeq)
        query.processAllAvailable()
      }
    } finally query.stop()

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    val served = AnomalyStream.serve(spark, store)
      .collect().map(key).sorted.toSeq
    val batch = graft.operators.Temporal.qEwmaAnomaly
      .build(spark, dir).collect().map(key).sorted.toSeq
    assert(served.nonEmpty && served == batch)

    // the final in-stream report (minus batch_id) sees what serve sees
    val repKeys = lastReport.map(r =>
      (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).sorted.toSeq
    assert(repKeys == batch)
  }
}
