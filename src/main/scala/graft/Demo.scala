package graft

import graft.streaming.{Gauges, OrderedProcessor}
import graft.streaming.broker.{BrokerTopic, InMemoryBroker}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Runnable end-to-end demo of the streaming surface — the user-facing
  * twin of the reference's five example `main`s (semantics of
  * part5/OrderedWorkloadsExample.scala:70-218: Key_Shared consumer →
  * per-key serial processor → keyed republish, watched via periodic
  * gauge logs, reference README.md:277-285).
  *
  *   sbt "runMain graft.Demo"
  *
  * Wiring: a durable keyed [[BrokerTopic]] (disk-backed partition logs)
  * feeds [[OrderedProcessor]] through the DSv2 micro-batch source; every
  * successfully processed message republishes to a second keyed durable
  * topic; [[Gauges]] snapshots per-trigger progress. One message's first
  * attempt is made to fail so the run demonstrates the §2 ordering
  * contract: the failed key's successors stay blocked behind the head
  * (per-key in-progress ≤ 1) until the retry drains them, while other
  * keys keep flowing.
  */
object Demo {

  private val msgSchema = StructType(Seq(
    StructField("key", StringType), StructField("seq", LongType),
    StructField("name", StringType), StructField("numPublishes", IntegerType)))
  private val outSchema = msgSchema.add(StructField("attempts", IntegerType))

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.quietWindowWarnings()
    LocalFiles.install(spark)
    import spark.implicits._

    val gauges = new Gauges
    spark.streams.addListener(gauges)

    val inLog = java.nio.file.Files.createTempDirectory("graft-demo-in-").toString
    val outLog = java.nio.file.Files.createTempDirectory("graft-demo-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-demo-ckpt-").toString
    val in = BrokerTopic.create(spark, "demo-in", msgSchema,
      numPartitions = 4, keyColumn = Some("key"), logDir = Some(inLog))
    val out = BrokerTopic.create(spark, "demo-out", outSchema,
      numPartitions = 4, keyColumn = Some("key"), logDir = Some(outLog))

    // ten keys × five messages; wolf-0's FIRST attempt fails, so key
    // "wolf" demonstrates head-blocking + retry while the rest flow
    val seed = for (k <- demoKeys; s <- 0L until 5L)
      yield (k, s, s"$k-$s", 0)
    // coalesce(1): ONE sequential producer task, so per-key seed order
    // is the publish order (the keyed-producer contract — see
    // [[BrokerTopic.publish]]); a multi-task seed would interleave
    in.publishSeed(seed.toDF("key", "seq", "name", "numPublishes").coalesce(1))
    println(s"[demo] published ${seed.size} messages over " +
      s"${demoKeys.size} keys to durable topic 'demo-in' ($inLog)")

    val failsOn: (OrderedProcessor.Msg, Int) => Boolean =
      (m, attempt) => m.key == "wolf" && m.seq == 0L && attempt == 0

    val query = OrderedProcessor.run(
        in.readStream(admitPerTrigger = 16)
          .select(col("key"), col("seq"), col("name"), col("numPublishes"))
          .as[OrderedProcessor.Msg],
        failsOn, maxAttempts = 5)
      .writeStream
      .queryName("demo-ordered")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[OrderedProcessor.Out], id: Long) =>
        out.publish(batch.filter(col("status") === "success")
          .select(col("key"), col("seq"), col("name"),
            col("numPublishes"), col("attempts")))
      }
      .start()

    // run to quiescence; the blocked key drains on its retry pass
    query.processAllAvailable()
    gauges.snapshot("demo-ordered").foreach { g =>
      println(s"[demo] gauge demo-ordered: batches=${g.batches} " +
        s"rows=${g.totalRows} lastBatch=${g.lastBatchRows} " +
        s"maxBatch=${g.maxBatchRows}")
    }
    // a second wave proves steady-state flow after the retry
    in.publish(demoKeys.map(k => (k, 5L, s"$k-5", 0))
      .toDF("key", "seq", "name", "numPublishes").coalesce(1))
    query.processAllAvailable()
    query.stop()

    // read the downstream partition logs back and PROVE the contract:
    // each key lives in one output partition, seq strictly increasing
    // (per-key in-progress ≤ 1 end to end), retried head took 2 attempts
    val topic = InMemoryBroker.topic("demo-out")
    val byPartition = (0 until 4).map { p =>
      p -> topic.slice(p, 0L, topic.endOffset(p))
        .map(r => (r.getString(0), r.getLong(1), r.getInt(4)))
    }.toMap
    var ok = true
    byPartition.foreach { case (p, rows) =>
      rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, perKey) =>
        val seqs = perKey.map(_._2)
        val ordered = seqs == seqs.sorted && seqs.distinct == seqs
        ok &= ordered
        println(f"[demo] out p$p key=$k%-8s n=${perKey.size} " +
          s"seqs=${seqs.mkString(",")} ordered=$ordered " +
          s"maxAttempts=${perKey.map(_._3).max}")
      }
    }
    val keyHomes = byPartition.toSeq
      .flatMap { case (p, rows) => rows.map(r => (r._1, p)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    ok &= keyHomes.values.forall(_ == 1)
    val total = byPartition.values.map(_.size).sum
    ok &= total == demoKeys.size * 6
    println(s"[demo] delivered $total/${demoKeys.size * 6} messages; " +
      s"single-partition keys=${keyHomes.values.count(_ == 1)}/${keyHomes.size}; " +
      s"wolf head attempts=${byPartition.values.flatten
        .collectFirst { case ("wolf", 0L, a) => a }.getOrElse(-1)}")
    println(if (ok) "[demo] ORDERING CONTRACT HELD" else "[demo] CONTRACT VIOLATED")

    spark.streams.removeListener(gauges)
    InMemoryBroker.deleteTopic("demo-in")
    InMemoryBroker.deleteTopic("demo-out")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  private val demoKeys = Seq("lion", "tiger", "wolf", "fox", "bear",
    "lynx", "otter", "hawk", "crane", "moose")
}
