package graft.streaming.broker

import graft.streaming.Topic
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** [[Topic]] over the embedded broker, read through the DataSource-V2
  * [[BrokerMicroBatchStream]] — same envelope columns as [[
  * graft.streaming.FileTopic]] (payload + `topic` + `deliveries`), so
  * every pipeline runs unmodified on either.
  *
  * The producer side appends from the EXECUTORS: each Spark task hands
  * its rows to the JVM-local broker (same JVM in local mode), which
  * round-robins them across the topic's partitions — the shape of the
  * reference's per-task producers (util/PulsarClientWrapper.scala:151-165,
  * where `sendAsync` is likewise called from the processing stages, not
  * collected to a driver). On a real cluster the `foreachPartition` body
  * becomes a broker producer-client send; nothing else changes.
  */
final class BrokerTopic(val spark: SparkSession, val name: String,
    schema: StructType, numPartitions: Int = 4,
    keyColumn: Option[String] = None,
    logDir: Option[String] = None,
    fsync: Boolean = false) extends Topic {

  private val envelopeSchema: StructType = schema
    .add("topic", "string").add("deliveries", "int").add("not_before", "long")

  InMemoryBroker.createTopic(name, envelopeSchema, numPartitions, logDir, fsync)

  // keyed producer (Pulsar keyed/KeyShared, Kafka keyed records): route
  // every row by hash(key) so same-key entries share a partition and
  // per-partition order is per-key order; keyless topics round-robin
  private val keyIdx: Option[Int] = keyColumn.map { c =>
    val i = envelopeSchema.fieldNames.indexOf(c)
    require(i >= 0, s"key column '$c' not in topic schema")
    i
  }

  /** Append `rows` from the executors (each Spark task is one producer).
    * Keyed-producer ordering contract — same as Kafka/Pulsar: per-key
    * order is preserved WITHIN one producing task; rows of one key
    * spread across tasks append in nondeterministic interleave. Upstream
    * stages that must hand off per-key order (OrderedProcessor's
    * foreachBatch republish) already satisfy this — a key's batch output
    * lives in one partition post-groupByKey. Driver-authored seed frames
    * should `coalesce(1)` (one sequential producer) if order matters.
    */
  override def publish(rows: DataFrame): Unit = {
    val topicName = name
    val ki = keyIdx
    envelope(rows).foreachPartition { it: Iterator[Row] =>
      val batch = it.toVector
      if (batch.nonEmpty) ki match {
        case Some(i) => InMemoryBroker.topic(topicName).appendKeyed(batch, i)
        case None => InMemoryBroker.topic(topicName).append(batch)
      }
    }
  }

  // executor-side produce already skips empty tasks for free

  override def publishSeed(rows: DataFrame): Unit =
    publish(rows.withColumn("deliveries", lit(0)))

  private def envelope(rows: DataFrame): DataFrame =
    rows
      .withColumn("topic", lit(name))
      .withColumn("deliveries",
        if (rows.columns.contains("deliveries"))
          coalesce(col("deliveries"), lit(0))
        else lit(0))
      .withColumn("not_before",
        if (rows.columns.contains("not_before"))
          coalesce(col("not_before"), lit(0L))
        else lit(0L))
      .select(envelopeSchema.fieldNames.map(col).toSeq: _*)

  override def readStream(admitPerTrigger: Int = 16): DataFrame =
    spark.readStream.format("graft-broker")
      .option("topic", name)
      .option("maxRowsPerTrigger", admitPerTrigger.toLong)
      .load()

  override def readAll(): DataFrame =
    spark.read.format("graft-broker").option("topic", name).load()
}

object BrokerTopic {
  /** `logDir` makes the topic durable (see [[InMemoryBroker.createTopic]]):
    * a fresh process re-creating the topic over the same directory
    * resumes from the checkpointed subscription cursor. `fsync` upgrades
    * durability from process-crash to OS-crash (a device sync per
    * append — see [[InMemoryBroker.TopicLog]] for the tradeoff).
    */
  def create(spark: SparkSession, name: String, schema: StructType,
      numPartitions: Int = 4, keyColumn: Option[String] = None,
      logDir: Option[String] = None, fsync: Boolean = false): BrokerTopic =
    new BrokerTopic(spark, name, schema, numPartitions, keyColumn, logDir, fsync)
}
