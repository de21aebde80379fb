package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The CDC store's contract: a changelog streamed in arbitrary chunks
  * (out of time order ACROSS batches), with a replayed batch, then
  * compacted, must materialize bit-identically to the batch q98 MERGE
  * over the same log. Tombstones survive compaction so late data can
  * never resurrect a deleted key. A compaction that crashed mid-swap
  * heals on the next compaction or start.
  */
class CdcStreamSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  /** The q98 changelog shape derived from the events table. */
  private def changelog() =
    graft.Tables.load(spark, dir, "events")
      .select(col("user_id").as("cust_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
          .as("op"),
        col("value").as("new_bal"),
        unix_micros(col("ts")).as("tsu"), col("event_id").as("eid"))

  private def base() =
    graft.Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey").as("cust_id"), col("c_acctbal").as("base_bal"))

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getString(2)))
      .sortBy(_._1).toSeq

  test("streamed chunks + replay + compaction ≡ batch q98 MERGE") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = CdcStream.init(spark, s"graft_cdc_spec_${System.nanoTime()}")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-").toString

    val rows = changelog()
      .as[(Long, String, Double, Long, Long)].collect().toSeq
    // scramble across batches: chunk by eid mod 3, so per-key history is
    // split out of time order between micro-batches
    val chunks = (0 until 3).map(m => rows.filter(_._5 % 3 == m))

    val input = MemoryStream[(Long, String, Double, Long, Long)]
    val query = CdcStream.startApply(spark,
      input.toDS().toDF("cust_id", "op", "new_bal", "tsu", "eid"),
      table, ckpt)
    try {
      chunks.foreach { c =>
        input.addData(c)
        query.processAllAvailable()
      }
    } finally query.stop()

    // crash-after-append redelivery of a whole chunk: state unchanged
    val before = collectSorted(CdcStream.materialize(spark, table, base()))
    CdcStream.applyBatch(spark, table,
      chunks(1).toDF("cust_id", "op", "new_bal", "tsu", "eid"))
    val replayed = collectSorted(CdcStream.materialize(spark, table, base()))
    assert(replayed == before, "a replayed batch must not change the state")

    val expected = collectSorted(
      graft.operators.Temporal.qCdcApply.build(spark, dir))
    assert(replayed == expected,
      "streamed materialization must equal the batch MERGE")

    // compaction collapses to one row per key, retains tombstones,
    // changes nothing observable
    CdcStream.compact(spark, table)
    assert(collectSorted(CdcStream.materialize(spark, table, base())) ==
      expected)
    val log = spark.table(table)
    assert(log.groupBy("cust_id").count().filter(col("count") > 1).count()
      == 0L, "compaction must leave one row per key")
    assert(log.filter(col("op") === "D").count() > 0L,
      "tombstones must survive compaction")

    // a late op OLDER than a key's tombstone must not resurrect it
    val dead = CdcStream.state(spark, table)
      .filter(col("op") === "D").select("cust_id", "tsu", "eid")
      .head()
    CdcStream.applyBatch(spark, table, Seq(
      (dead.getLong(0), "U", 12345.0, dead.getLong(1) - 1L, -1L))
      .toDF("cust_id", "op", "new_bal", "tsu", "eid"))
    assert(collectSorted(CdcStream.materialize(spark, table, base())) ==
      expected, "a late pre-delete op must lose to the tombstone")
  }

  test("a crashed state compaction heals on the next compaction or start") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = CdcStream.init(spark, s"graft_cdc_crash_${System.nanoTime()}")
    val rows = changelog()
      .as[(Long, String, Double, Long, Long)].collect().toSeq
    CdcStream.applyBatch(spark, table,
      rows.toDF("cust_id", "op", "new_bal", "tsu", "eid"))
    val before = collectSorted(CdcStream.materialize(spark, table, base()))
    val twin = s"${table}_compact"
    def writeTwin(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.partitionBy("kb").mode("overwrite").saveAsTable(twin)
    def twinOnly(): Unit = {
      writeTwin(spark.table(table))
      graft.sources.Bucketed.dropStale(spark, table)
      assert(!spark.catalog.tableExists(table), "crash state: canonical gone")
    }
    def healed(how: String): Unit = {
      assert(spark.catalog.tableExists(table), how)
      assert(!spark.catalog.tableExists(twin), s"$how left the twin behind")
      assert(collectSorted(CdcStream.materialize(spark, table, base())) ==
        before, s"$how changed the materialization")
    }

    // (a) a stale twin beside the canonical table: the crash came before
    // the drop, so the next compaction discards the twin
    writeTwin(spark.table(table).limit(1))
    CdcStream.compact(spark, table)
    healed("compaction over a stale twin")

    // (b) the twin only: the crash came between the drop and the rename
    twinOnly()
    CdcStream.compact(spark, table)
    healed("compaction over a twin-only store")
    twinOnly()
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-crash-").toString
    val input = MemoryStream[(Long, String, Double, Long, Long)]
    val query = CdcStream.startApply(spark,
      input.toDS().toDF("cust_id", "op", "new_bal", "tsu", "eid"), table, ckpt)
    try {
      input.addData(rows.take(50)) // a redelivered slice: state unchanged
      query.processAllAvailable()
    } finally query.stop()
    healed("start over a twin-only store")
  }
}
