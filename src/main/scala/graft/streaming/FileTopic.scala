package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A file-backed "topic": an append-only parquet directory read as a
  * stream. This is the test/local stand-in for the broker source (reference
  * S1, part1/PulsarPekkoSource.scala) — in production the same pipeline
  * reads `spark.readStream.format("pulsar")` (StreamNative connector) or
  * any DataSource-V2 streaming source; everything downstream is identical.
  *
  * Envelope columns follow the connector's shape: payload columns plus
  * `topic`, `deliveries` (the redelivery counter that replaces broker
  * `deliveryCount`) and `not_before` (earliest deliverable epoch-ms — the
  * broker's delayed-delivery / `deliverAfter` metadata, 0 = immediately).
  */
final class FileTopic(val spark: SparkSession, val name: String, val dir: String,
    schema: StructType) extends Topic {

  private val envelopeSchema: StructType = schema
    .add("topic", "string").add("deliveries", "int").add("not_before", "long")

  /** Producer send (reference K4): one append per call, like the
    * examples' batching-off producers (part2/SingleWorkloadExample.scala:85).
    * An empty write still makes a parquet file, which a reader takes for
    * new input (an endless empty-batch loop on feedback topologies), so
    * the one write job lands in a `_staging-` dir readers skip and moves
    * in only if its observed row count is non-zero. No emptiness probe
    * runs first, so an `Observation` on `rows` sees every row.
    */
  override def publish(rows: DataFrame): Unit = {
    val staged = new java.io.File(dir, s"_staging-${java.util.UUID.randomUUID()}")
    val obs = Observation()
    try {
      envelope(rows).observe(obs, count(lit(1)).as("n"))
        .write.parquet(staged.getPath)
      if (obs.get.get("n").exists(_ != 0L))
        staged.listFiles().filter(_.getName.startsWith("part-")).foreach(f =>
          java.nio.file.Files.move(f.toPath, new java.io.File(dir, f.getName).toPath))
    } finally {
      Option(staged.listFiles()).foreach(_.foreach(_.delete()))
      staged.delete(): Unit
    }
  }


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
      .select(envelopeSchema.fieldNames.map(col): _*)

  override def publishSeed(rows: DataFrame): Unit =
    publish(rows.withColumn("deliveries", lit(0)))

  /** Streaming scan with bounded intake (reference C3: inputBuffer(0,1) +
    * receiverQueueSize — the broker buffers, the app admits a bounded
    * amount per trigger; here `maxFilesPerTrigger`).
    */
  override def readStream(admitPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(envelopeSchema)
      .option("maxFilesPerTrigger", admitPerTrigger)
      .parquet(dir)

  /** Batch read of everything currently on the topic. */
  override def readAll(): DataFrame = spark.read.schema(envelopeSchema).parquet(dir)
}

object FileTopic {
  def create(spark: SparkSession, name: String, baseDir: String,
      schema: StructType): FileTopic = {
    val dir = s"$baseDir/$name"
    new java.io.File(dir).mkdirs()
    new FileTopic(spark, name, dir, schema)
  }
}
