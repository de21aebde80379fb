package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.sources.Bucketed
import graft.streaming.{DistinctStream, Sources}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}

/** The streaming store front door leg: [[DistinctStream]], an
  * additive-fold monitor (HLL registers per event type and day) over a
  * `sources/Bucketed` store, the store shape the six fold monitors share.
  * Fed in a closed loop by one client, a leg builds an empty store,
  * starts the front door on a queue source, feeds seed-chosen `events`
  * rows in two 100-row micro-batches (one op per addData +
  * processAllAvailable round trip; the second trigger compacts the first
  * one's fold before its own), stops, and checks the store with
  * StreamBench's loss check: the streamed cube equals the batch cube of
  * the rows fed.
  */
object StoreIngest {

  val Name = "distinct"
  val BatchRows = 100
  /** Round trips per leg: a plain trigger, then one that compacts first. */
  val Rounds = 2
  val CompactEvery = 1

  /** What one leg run leaves for the traced run's per-layer numbers. */
  final case class Ran(queryId: java.util.UUID, storeFiles: Long)

  /** The committed `events` rows, read once. */
  def events(spark: SparkSession, tables: String): Seq[(String, Long, Long)] =
    Tables.load(spark, tables, "events")
      .select(col("event_type"), col("user_id"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._3, t._2, t._1)).toSeq

  /** Runs one leg under the tag `tag`, each round trip one op whose cost
    * counts the query's micro-batch thread besides the caller. Returns
    * the ops (each marked wrong when the loss check fails) and what the
    * traced run reads.
    */
  def run(spark: SparkSession, events: Seq[(String, Long, Long)], tag: String,
      ckpt: String, rnd: scala.util.Random, trace: Trace): (Seq[QuerySuite.Timed], Ran) = {
    import spark.implicits._
    val store = DistinctStream.build(spark, tag)
    val rows = rnd.shuffle(events).take(Rounds * BatchRows)
    val src = Sources.queue[(String, Long, Long)](spark)
    val q = trace.layer("ingest", s"$tag.start") {
      DistinctStream.startIncremental(spark,
        src.toDS().toDF("event_type", "user_id", "tus"), store, ckpt,
        onBatch = _ => (), compactEvery = CompactEvery)
    }
    val thread = Cpu.streamThread(q)
    val ops = try rows.grouped(BatchRows).toSeq.zipWithIndex.map { case (g, i) =>
      QuerySuite.measure(s"$Name#$i", Seq(thread)) {
        trace.span(s"$Name.round") {
          src.addData(g)
          q.processAllAvailable()
        }
        None
      }
    } finally q.stop()
    val wrong = trace.span(s"$tag.check") {
      val streamed = DistinctStream.dailyCube(spark, store).count()
      val batch = DistinctStream.batchRegisters(
        rows.toDF("event_type", "user_id", "tus")).count()
      if (streamed == batch) None
      else Some(s"$Name: streamed cube has $streamed cells, batch cube $batch")
    }
    val files = storeFiles(spark, store.table)
    Bucketed.dropStale(spark, store.table)
    (ops.map(t => if (wrong.isEmpty || t.op.wrong.nonEmpty) t
      else t.copy(op = t.op.copy(wrong = wrong))),
      Ran(q.id, files))
  }

  /** Data files of a managed table in the session's warehouse. */
  def storeFiles(spark: SparkSession, table: String): Long = {
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val dir = Paths.get(wh, table.toLowerCase(java.util.Locale.ROOT))
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala.count { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.toLong
  }
}
