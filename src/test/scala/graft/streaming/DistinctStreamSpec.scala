package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the streaming HLL register cube: serving from the streamed
  * store is bit-identical to q197's batch plan over the same events,
  * the replay guard appends nothing, compaction bounds the store
  * without changing a report, and — the property additive monitors
  * cannot have — serving is invariant under full duplicate ingest
  * (register max-merge is idempotent).
  */
class DistinctStreamSpec extends AnyFunSuite with SparkTestSession {
  import org.apache.spark.sql.functions._

  private val dir = "/root/testdata/sf0.001"

  private def eventTuples(): Seq[(String, Long, Long)] =
    graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id"),
        expr("unix_micros(ts)").as("tus"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._3, t._2)).toSeq

  private def ingest(store: DistinctStream.Store, ckpt: String,
      slices: Seq[Seq[(String, Long, Long)]], compactEvery: Int = 0): Unit = {
    import spark.implicits._
    val src = Sources.queue[(String, Long, Long)](spark)
    val query = DistinctStream.startIncremental(
      spark, src.toDS().toDF("event_type", "user_id", "tus"), store, ckpt,
      onBatch = _ => (), compactEvery = compactEvery)
    try {
      slices.foreach { g =>
        src.addData(g)
        query.processAllAvailable()
      }
    } finally query.stop()
  }

  private def collectSorted(
      df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("streamed serve ≡ q197 batch; guard, compaction and idempotence hold") {
    val events = eventTuples()
    val store = DistinctStream.build(spark, "spec")
    val ckpt =
      java.nio.file.Files.createTempDirectory("graft-ds-ckpt-").toString
    ingest(store, ckpt, events.grouped(137).toSeq, compactEvery = 3)

    // 1. the streamed cube ≡ the batch register cube over all events
    import spark.implicits._
    val batchCube = DistinctStream.batchRegisters(
      events.toDF("event_type", "user_id", "tus"))
    assert(collectSorted(DistinctStream.dailyCube(spark, store)) ==
      collectSorted(batchCube))

    // 2. serving ≡ q197's gated batch plan on the same corpus
    val streamed = collectSorted(DistinctStream.rollingReport(spark, store))
    val batch = collectSorted(
      graft.operators.Profiling.qRollingDistinct.build(spark, dir))
    assert(streamed.nonEmpty && streamed == batch,
      "streamed rolling report diverged from the q197 batch plan")

    // 3. replay guard: re-appending the LATEST batch id is a no-op (only
    // the last uncommitted batch is replayable by the engine — earlier
    // tags are compacted away under the unreplayability contract)
    val before = spark.table(store.table).count()
    val lastBid = spark.table(store.table)
      .agg(max(col("batch_id"))).collect().head.getLong(0)
    val lastSlice = events.grouped(137).toSeq.last
    store.append(spark, DistinctStream.batchRegisters(
      lastSlice.toDF("event_type", "user_id", "tus")), ckpt, lastBid)
    assert(spark.table(store.table).count() == before,
      "replayed batch appended rows past the guard")

    // 4. compaction bounds the store and changes no report
    store.compact(spark, ckpt)
    assert(collectSorted(DistinctStream.rollingReport(spark, store))
      == streamed, "compaction changed the rolling report")
    assert(spark.table(store.table).count() <= before,
      "compaction grew the store")

    // 5. max-merge idempotence: re-ingesting the WHOLE corpus under a
    // fresh checkpoint (new batch ids — the guard does not drop them)
    // leaves every report bit-identical
    val ckpt2 =
      java.nio.file.Files.createTempDirectory("graft-ds-ckpt2-").toString
    ingest(store, ckpt2, events.grouped(251).toSeq)
    assert(collectSorted(DistinctStream.rollingReport(spark, store))
      == streamed, "duplicate ingest changed the serve — max-merge broke")

    graft.sources.Bucketed.dropStale(spark, store.table)
  }
}
