package graft.streaming

import org.apache.spark.sql.DataFrame

/** The topic abstraction every pipeline stage is written against — the
  * engine-side face of the reference's broker (S1,
  * part1/PulsarPekkoSource.scala:116-131): an append-only named message
  * log with a producer side ([[publish]]) and a streaming consumer side
  * ([[readStream]]) whose per-trigger intake is admission-bounded
  * (reference C3).
  *
  * Two implementations ship:
  *  - [[FileTopic]] — parquet-directory-backed, the local test harness;
  *  - [[graft.streaming.broker.BrokerTopic]] — an embedded broker read
  *    through a real DataSource-V2 `MicroBatchStream` (offset-tracked,
  *    checkpoint-resumable, `SupportsAdmissionControl`), the runnable
  *    connector path.
  *
  * Everything downstream ([[RepublishPipeline]], [[WorkloadManager]]
  * builders, the intake-bound tests) is implementation-agnostic.
  */
trait Topic {

  def name: String

  /** Producer send (reference K4); one append, skips empty sends, and
    * fulfils an `Observation` on `rows` over every row (TopicContract).
    */
  def publish(rows: DataFrame): Unit

  /** Seed publish: first delivery, `deliveries = 0`. */
  def publishSeed(rows: DataFrame): Unit

  /** Streaming scan with bounded per-trigger intake (reference C3). The
    * unit of `admitPerTrigger` is implementation-defined admission
    * granularity: files for [[FileTopic]], rows (broker entries) for the
    * DSv2 broker source.
    */
  def readStream(admitPerTrigger: Int = 16): DataFrame

  /** Batch read of everything currently on the topic. */
  def readAll(): DataFrame
}
