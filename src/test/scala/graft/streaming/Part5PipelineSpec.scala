package graft.streaming

import graft.SparkTestSession
import graft.streaming.broker.{BrokerTopic, InMemoryBroker}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The part-5 entry point COMPOSED end-to-end (reference
  * part5/OrderedWorkloadsExample.scala:70-218 wires Key_Shared consumer →
  * per-key serial processor → keyed republish as ONE pipeline;
  * part5/OrderedStreamGenerator.scala:122-164 is the consumer flow): a
  * keyed DURABLE BrokerTopic feeds [[OrderedProcessor]] through the DSv2
  * source, successes republish to a second keyed durable topic — and the
  * whole composition survives a broker + query restart mid-retry.
  *
  * This is the wiring a real user of the pieces builds first, and the
  * one place the §2 ordering semantics must hold ACROSS seams: broker
  * keyed routing (per-partition order = per-key order), checkpointed
  * source offsets (resume, not replay), state-store-backed retry buffers
  * (a blocked key's backlog survives restart), and keyed republish
  * (downstream per-key order observable in the output partition logs).
  */
class Part5PipelineSpec extends AnyFunSuite with SparkTestSession {
  import OrderedProcessor._

  private val msgSchema = StructType(Seq(
    StructField("key", StringType), StructField("seq", LongType),
    StructField("name", StringType), StructField("numPublishes", IntegerType)))
  private val outSchema = msgSchema.add(StructField("attempts", IntegerType))

  test("durable keyed topic -> ordered processor -> keyed republish survives restart mid-retry") {
    import spark.implicits._
    val tag = System.nanoTime()
    val inName = s"p5-in-$tag"
    val outName = s"p5-out-$tag"
    val inLog = java.nio.file.Files.createTempDirectory("graft-p5-in-").toString
    val outLog = java.nio.file.Files.createTempDirectory("graft-p5-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-p5-ckpt-").toString

    def openIn() = BrokerTopic.create(spark, inName, msgSchema,
      numPartitions = 4, keyColumn = Some("key"), logDir = Some(inLog))
    def openOut() = BrokerTopic.create(spark, outName, outSchema,
      numPartitions = 4, keyColumn = Some("key"), logDir = Some(outLog))

    // kb's head fails its FIRST attempt only: activation 1 blocks the key
    // (seq 0 buffered with one attempt spent, seq 1 buffered behind it),
    // and the retry that drains it happens AFTER the restart — proving
    // the retry buffer crossed the checkpoint boundary
    val failsOn: (Msg, Int) => Boolean =
      (m, att) => m.key == "kb" && m.seq == 0L && att == 0

    def startQuery(in: BrokerTopic, out: BrokerTopic) = {
      val msgs = in.readStream(admitPerTrigger = 64)
        .select(col("key"), col("seq"), col("name"), col("numPublishes"))
        .as[Msg]
      OrderedProcessor.run(msgs, failsOn, maxAttempts = 5)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Out], _: Long) =>
          // the reference processor republishes PROCESSED messages
          // (part5/OrderedMessageProcessor.scala:28-29): successes only
          out.publish(batch.filter(col("status") === "success")
            .select(col("key"), col("seq"), col("name"),
              col("numPublishes"), col("attempts")))
        }
        .start()
    }

    // ---- phase 1: seed both keys; kb blocks on its failing head --------
    val in1 = openIn()
    val out1 = openOut()
    in1.publishSeed(Seq(
      ("ka", 0L, "lion", 0), ("ka", 1L, "tiger", 0),
      ("kb", 0L, "wolf", 0), ("kb", 1L, "fox", 0))
      .toDF("key", "seq", "name", "numPublishes"))
    val q1 = startQuery(in1, out1)
    try q1.processAllAvailable() finally q1.stop()

    // ka drained; kb fully blocked (head failed, successor must not
    // overtake) — nothing of kb may be visible downstream yet
    val outMid = InMemoryBroker.topic(outName)
    val midRows = (0 until 4).flatMap(p => outMid.slice(p, 0L, outMid.endOffset(p)))
      .map(r => (r.getString(0), r.getLong(1)))
    assert(midRows.toSet == Set(("ka", 0L), ("ka", 1L)),
      s"kb must be blocked behind its failed head, got $midRows")

    // ---- process boundary: both broker logs replayed from disk ---------
    val inEnds = InMemoryBroker.topic(inName).endOffsets
    InMemoryBroker.deleteTopic(inName)
    InMemoryBroker.deleteTopic(outName)
    val in2 = openIn()
    val out2 = openOut()
    assert(InMemoryBroker.topic(inName).endOffsets == inEnds,
      "replayed input log must restore every partition's end offset")

    // ---- phase 2: new traffic activates kb; retry drains the backlog ---
    in2.publishSeed(Seq(("ka", 2L, "calico", 0), ("kb", 2L, "shepherd", 0))
      .toDF("key", "seq", "name", "numPublishes"))
    val q2 = startQuery(in2, out2)
    try q2.processAllAvailable() finally q2.stop()

    // ---- the end-to-end ordering proof, read from the OUTPUT broker ----
    val outTopic = InMemoryBroker.topic(outName)
    val byPartition = (0 until 4).map { p =>
      p -> outTopic.slice(p, 0L, outTopic.endOffset(p))
        .map(r => (r.getString(0), r.getLong(1), r.getInt(3), r.getInt(4)))
    }.toMap
    val all = byPartition.values.flatten.toSeq

    // every message delivered downstream exactly once (clean stops: the
    // committed batches never replay), none lost, one republish hop each
    assert(all.map { case (k, s, _, _) => (k, s) }.sorted ==
      Seq("ka" -> 0L, "ka" -> 1L, "ka" -> 2L, "kb" -> 0L, "kb" -> 1L, "kb" -> 2L),
      s"expected each message exactly once downstream, got $all")
    assert(all.forall(_._3 == 1), s"one republish hop per message: $all")

    // kb's head took its second attempt AFTER the restart: the retry
    // buffer (and the attempt already spent) survived the checkpoint
    val attempts = all.map { case (k, s, _, a) => (k, s) -> a }.toMap
    assert(attempts(("kb", 0L)) == 2, s"head retry must span the restart: $attempts")
    assert(attempts(("ka", 0L)) == 1 && attempts(("kb", 1L)) == 1)

    // keyed republish: each key lives in exactly ONE output partition,
    // and within it seq is strictly increasing — per-partition append
    // order IS per-key processing order, end to end
    val homes = byPartition.toSeq.flatMap { case (p, rows) =>
      rows.map { case (k, _, _, _) => (k, p) } }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    homes.foreach { case (k, ps) =>
      assert(ps.size == 1, s"key $k spread across output partitions $ps") }
    byPartition.values.foreach { rows =>
      rows.groupBy(_._1).values.foreach { perKey =>
        val seqs = perKey.map(_._2)
        assert(seqs == seqs.sorted && seqs.distinct == seqs,
          s"per-key republish order broken: $perKey")
      }
    }
  }
}
