package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** [[Topic]] over a PUBLISHED Spark broker connector — the third
  * implementation the S1 seam (SURVEY §8) documents: drop the
  * StreamNative `pulsar-spark` jar (or use Spark's built-in `kafka`
  * source) on the classpath of a real cluster and every pipeline in
  * this repo (RepublishPipeline, WorkloadManager, the ingest streams)
  * runs against the real broker unchanged, because they are all written
  * against the [[Topic]] trait (reference S1,
  * part1/PulsarPekkoSource.scala:116-131).
  *
  * The class compiles against STOCK Spark only — connector formats and
  * options are string-driven (`format("pulsar")` / `format("kafka")`),
  * so no provided-scope dependency is needed; the connector jar is
  * resolved at RUNTIME by the DataSource registry. In this zero-egress
  * environment no broker jar or endpoint exists, so every method fails
  * at lookup ("Failed to find data source") — the option translation
  * and the JSON wire envelope are the testable halves
  * (`ConnectorTopicSpec`), and the behavioral contract a deployment
  * must re-run against the real broker is [[TopicContract]] (the same
  * fixture FileTopic/BrokerTopic pass hermetically).
  *
  * Wire format: the payload row plus the engine's redelivery metadata
  * (`deliveries`, `not_before`) rides as ONE JSON value — the
  * reference's own wire shape (F1/F2, util/PulsarClientSetup.scala:22)
  * — and the optional routing key as the record key (K4/F5 keyed
  * routing: Pulsar `MessageRoutingMode` / Kafka record key). Delayed
  * delivery note: Pulsar holds `deliverAfter` broker-side; Kafka has no
  * broker hold, so `not_before` stays in the envelope and
  * RepublishPipeline's in-batch nap path enforces it — exactly the
  * embedded broker's admission rule.
  */
final class ConnectorTopic(val spark: SparkSession, val name: String,
    connector: ConnectorTopic.Connector, schema: StructType,
    keyColumn: Option[String] = None) extends Topic {

  import ConnectorTopic._

  /** What the consumer sees — FileTopic/BrokerTopic's envelope shape. */
  private val envelopeSchema: StructType = schema
    .add("topic", "string").add("deliveries", "int").add("not_before", "long")

  /** What rides the broker value: payload + redelivery metadata (the
    * broker itself carries the topic).
    */
  private val wireSchema: StructType =
    schema.add("deliveries", "int").add("not_before", "long")

  private def envelope(rows: DataFrame): DataFrame =
    rows
      .withColumn("deliveries",
        if (rows.columns.contains("deliveries"))
          coalesce(col("deliveries"), lit(0))
        else lit(0))
      .withColumn("not_before",
        if (rows.columns.contains("not_before"))
          coalesce(col("not_before"), lit(0L))
        else lit(0L))

  /** Envelope → broker record frame (`value` [+ `key`]): the encode
    * half of the wire round-trip `ConnectorTopicSpec` pins.
    */
  private[streaming] def encodeRecords(rows: DataFrame): DataFrame = {
    val env = envelope(rows)
    val value = to_json(
      struct(wireSchema.fieldNames.map(col).toIndexedSeq: _*))
      .cast("binary").as("value")
    keyColumn match {
      case Some(k) => env.select(col(k).cast("string").cast("binary").as("key"), value)
      case None => env.select(value)
    }
  }

  /** Broker record frame → envelope: the decode half (FAILFAST like the
    * reference's `.as[T]` — F2).
    */
  private[streaming] def decodeRecords(records: DataFrame): DataFrame =
    records
      .select(from_json(col("value").cast("string"), wireSchema,
        Map("mode" -> "FAILFAST")).as("p"))
      .select(
        (schema.fieldNames.map(f => col(s"p.$f")) ++ Seq(
          lit(name).as("topic"),
          col("p.deliveries").as("deliveries"),
          col("p.not_before").as("not_before"))).toIndexedSeq: _*)

  // zero records append nothing, so no emptiness probe runs first: the
  // send is one job, and an `Observation` on `rows` sees every row
  override def publish(rows: DataFrame): Unit =
    publishRecords(encodeRecords(rows))


  override def publishSeed(rows: DataFrame): Unit =
    publish(rows.withColumn("deliveries", lit(0)))

  private def publishRecords(records: DataFrame): Unit =
    records.write.format(connector.format)
      .options(writeOptions(connector, name)).save()

  /** Admission unit is the connector's: Pulsar entries / Kafka offsets
    * per trigger — the same row-granular bound the embedded broker's
    * `ReadLimit.maxRows` enforces (C3).
    */
  override def readStream(admitPerTrigger: Int = 16): DataFrame =
    decodeRecords(spark.readStream.format(connector.format)
      .options(readOptions(connector, name, admitPerTrigger)).load())

  override def readAll(): DataFrame =
    decodeRecords(spark.read.format(connector.format)
      .options(batchReadOptions(connector, name)).load())
}

object ConnectorTopic {

  /** The supported published connectors. Adding one = one case here +
    * three option rows below; nothing downstream changes.
    */
  sealed trait Connector { def format: String }

  /** StreamNative pulsar-spark connector endpoints. */
  final case class Pulsar(serviceUrl: String, adminUrl: String)
      extends Connector { val format = "pulsar" }

  /** Spark's built-in Kafka source. */
  final case class Kafka(bootstrapServers: String)
      extends Connector { val format = "kafka" }

  /** A connector REGISTERED UNDER A DIFFERENT DataSource name but
    * speaking an existing dialect's option table — a vendor fork of the
    * kafka source, or the hermetic in-tree double
    * (`graft-fake-connector`, test classpath) that lets [[TopicContract]]
    * exercise this class's own readStream/publish bodies without a real
    * broker: every option row below is emitted verbatim, only the
    * `format(...)` string changes.
    */
  final case class Shim(dialect: Connector, override val format: String)
      extends Connector

  /** The SURVEY §8 S1-seam option table, streaming-read column — kept
    * as DATA so the spec pins the translation against the documented
    * mapping (maxEntriesPerTrigger / maxOffsetsPerTrigger are each
    * connector's admission bound; `startingOffsets=earliest` is the
    * embedded broker's all-zero initial cursor).
    */
  def readOptions(c: Connector, topic: String,
      admitPerTrigger: Int): Map[String, String] = c match {
    case Shim(dialect, _) => readOptions(dialect, topic, admitPerTrigger)
    case Pulsar(svc, adm) => Map(
      "topics" -> topic,
      "service.url" -> svc,
      "admin.url" -> adm,
      "maxEntriesPerTrigger" -> admitPerTrigger.toString,
      "startingOffsets" -> "earliest")
    case Kafka(bs) => Map(
      "subscribe" -> topic,
      "kafka.bootstrap.servers" -> bs,
      "maxOffsetsPerTrigger" -> admitPerTrigger.toString,
      "startingOffsets" -> "earliest")
  }

  /** Batch-read column of the table ([[Topic.readAll]]). */
  def batchReadOptions(c: Connector, topic: String): Map[String, String] =
    c match {
      case Shim(dialect, _) => batchReadOptions(dialect, topic)
      case Pulsar(svc, adm) => Map(
        "topics" -> topic,
        "service.url" -> svc,
        "admin.url" -> adm,
        "startingOffsets" -> "earliest",
        "endingOffsets" -> "latest")
      case Kafka(bs) => Map(
        "subscribe" -> topic,
        "kafka.bootstrap.servers" -> bs,
        "startingOffsets" -> "earliest",
        "endingOffsets" -> "latest")
    }

  /** Producer column of the table ([[Topic.publish]]). */
  def writeOptions(c: Connector, topic: String): Map[String, String] =
    c match {
      case Shim(dialect, _) => writeOptions(dialect, topic)
      case Pulsar(svc, adm) => Map(
        "topic" -> topic,
        "service.url" -> svc,
        "admin.url" -> adm)
      case Kafka(bs) => Map(
        "topic" -> topic,
        "kafka.bootstrap.servers" -> bs)
    }

  def create(spark: SparkSession, name: String, connector: Connector,
      schema: StructType,
      keyColumn: Option[String] = None): ConnectorTopic =
    new ConnectorTopic(spark, name, connector, schema, keyColumn)
}
