package graft.streaming

import scala.collection.mutable.ArrayBuffer

import graft.SparkTestSession
import graft.sources.Bucketed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class SourcesSinksPoolsSpec extends AnyFunSuite with SparkTestSession {

  test("S4 collection source + K3 fold sink") {
    import spark.implicits._
    val ds = Sources.collection(spark, Seq(1, 2, 3, 4))
    assert(Sinks.fold(ds)(_ + _) == 10)
  }

  test("S2 queue source: offered elements come out as micro-batches") {
    import spark.implicits._
    val q = Sources.queue[Int](spark)
    val name = s"queue_${System.nanoTime()}"
    val query = q.toDS().writeStream.format("memory").queryName(name).start()
    try {
      q.addData(1, 2, 3)
      query.processAllAvailable()
      assert(spark.table(name).as[Int].collect().toSet == Set(1, 2, 3))
    } finally query.stop()
  }

  test("F5 producer routing: partitioned write fans rows out by topic") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-route-").toString
    val df = Seq(
      ("a", 1, "t1-partition-0"), ("b", 2, "t2"), ("c", 3, "t1"))
      .toDF("name", "numPublishes", "topic")
    Sinks.partitionedByTopic(df, base)
    val t1 = spark.read.parquet(s"$base/topic=t1")
    assert(t1.count() == 2, "t1-partition-0 normalizes into t1's route")
    assert(spark.read.parquet(s"$base/topic=t2").count() == 1)
  }

  test("P1 pools: allocation XML renders and withPool restores the local property") {
    val xml = Pools.allocationXml(Seq(Pools.Pool("wl-a", 2, 1), Pools.Pool("wl-b", 0, 3)))
    assert(xml.contains("<pool name=\"wl-a\">") && xml.contains("<minShare>2</minShare>")
      && xml.contains("<weight>3</weight>"))
    val tmp = java.nio.file.Files.createTempFile("fair", ".xml").toString
    val conf = Pools.writeAllocationFile(Seq(Pools.Pool("p", 1, 1)), tmp)
    assert(conf("spark.scheduler.mode") == "FAIR")
    assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tmp)))
      .contains("<allocations>"))
    Pools.withPool(spark, "wl-a") {
      assert(spark.sparkContext.getLocalProperty("spark.scheduler.pool") == "wl-a")
    }
    assert(spark.sparkContext.getLocalProperty("spark.scheduler.pool") == null)
  }

  // The store front-door contract every persisted store's stream rests
  // on: the compaction cadence, the emptiness probe, heal-before-batch-0
  // and the prepared frame's lifetime.
  private def ckpt() =
    java.nio.file.Files.createTempDirectory("graft-ingest-").toString

  test("Sinks.ingest compacts before batches N and 2N only, and skips empty bodies") {
    import spark.implicits._
    val q = Sources.queue[Int](spark)
    val events = ArrayBuffer.empty[String]
    // the micro-batch thread carries its batch id as a local property,
    // so the compaction hook can say which batch it ran before
    def running = spark.sparkContext.getLocalProperty("streaming.sql.batchId")
    // value 0 is filtered out, so the batch that carries it is empty
    val query = Sinks.ingest(spark, q.toDS().toDF("v").filter(col("v") > 0),
        ckpt(), Nil, compactEvery = 2,
        compact = () => events.synchronized { events += s"compact $running" }) {
      (batch, batchId) =>
        events.synchronized { events += s"body $batchId:${batch.count()}" }
    }
    try Seq(1, 2, 0, 3, 4).foreach { v =>
      q.addData(v)
      query.processAllAvailable()
    } finally query.stop()
    assert(events.toSeq == Seq("body 0:1", "body 1:1", "compact 2",
      "body 3:1", "compact 4", "body 4:1"))
  }

  test("Sinks.ingest adopts a twin-only table before batch 0's body reads it") {
    import spark.implicits._
    val table = s"graft_ingest_heal_${System.nanoTime()}"
    Bucketed.write(Seq(1L, 2L, 3L).toDF("k"), table, 4, "k")
    spark.table(table).write.bucketBy(4, "k").sortBy("k")
      .mode("overwrite").saveAsTable(s"${table}_compact")
    Bucketed.dropStale(spark, table)
    assert(!spark.catalog.tableExists(table), "crash state: canonical gone")

    val q = Sources.queue[Int](spark)
    val seen = ArrayBuffer.empty[Long]
    val query = Sinks.ingest(spark, q.toDS().toDF("v"), ckpt(), Seq(table)) {
      (_, _) => seen.synchronized { seen += spark.table(table).count() }
    }
    try {
      q.addData(1)
      query.processAllAvailable()
    } finally query.stop()
    assert(seen.toSeq == Seq(3L), "batch 0 must read the adopted table")
    assert(!spark.catalog.tableExists(s"${table}_compact"))
  }

  test("Sinks.ingest unpersists the prepared frame after the body, also when it throws") {
    import spark.implicits._
    def run(fail: Boolean): (StorageLevel, DataFrame) = {
      val q = Sources.queue[Int](spark)
      val seen = ArrayBuffer.empty[(StorageLevel, DataFrame)]
      val query = Sinks.ingest(spark, q.toDS().toDF("v"), ckpt(), Nil,
          prepare = Some(_.select((col("v") * 7).as(s"p${System.nanoTime()}")))) {
        (b, _) =>
          seen.synchronized { seen += (b.storageLevel -> b) }
          if (fail) throw new IllegalStateException("body failed")
      }
      try {
        q.addData(1)
        if (fail) intercept[StreamingQueryException](query.processAllAvailable())
        else query.processAllAvailable()
      } finally query.stop()
      seen.synchronized(seen.head)
    }
    for (fail <- Seq(false, true)) {
      val (inBody, prepared) = run(fail)
      assert(inBody != StorageLevel.NONE, s"persisted for the body (fail=$fail)")
      assert(prepared.storageLevel == StorageLevel.NONE,
        s"unpersisted after the body (fail=$fail)")
    }
  }
}
