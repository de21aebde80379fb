package graft.streaming

import graft.LocalFiles
import graft.sources.Bucketed
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Sink constructors mapping the reference's sink inventory (SURVEY §2A
  * K1-K5).
  *
  *  - **K1/K2 drain** (`Sink.ignore` / ZIO `runDrain`): the noop sink —
  *    runs the stream for its effects/metrics, discards rows.
  *  - **K3 fold** (`Sink.fold` collecting the ShutdownHook set,
  *    part3/MultipleWorkloadsExample.scala:213): on bounded data a plain
  *    `Dataset.reduce`; for the control-plane use the reference folded it
  *    for, [[WorkloadManager]] keeps the name→query registry instead.
  *  - **K4 keyed republish** ([[FileTopic.publish]] /
  *    [[RepublishPipeline]]): payload + key appended to a topic; with the
  *    Pulsar connector this is
  *    `select(to_json(...).as("value"), col("key")).writeStream
  *    .format("pulsar")`.
  *  - **K5 asPublisher**: reactive-streams interop — n/a, one engine end
  *    to end (SURVEY T12).
  *
  * F5 producer routing (`producers(topicName)` map lookup,
  * part3/LimitedMessageProcessor.scala:77) becomes [[partitionedByTopic]]:
  * one partitioned write fans rows out to per-topic directories — the
  * declarative form of a producer-per-topic map.
  *
  * Every persisted store's stream runs through [[ingest]], the one
  * foreachBatch loop that owns their shared policy.
  */
object Sinks {

  /** K1/K2: drain the stream (checkpoint-acked, rows discarded). */
  def drain(df: DataFrame, queryName: String, checkpointDir: String)
      : StreamingQuery = {
    LocalFiles.install(df.sparkSession)
    df.writeStream.format("noop").queryName(queryName)
      .option("checkpointLocation", checkpointDir).start()
  }

  /** K3: fold a bounded control dataset into one value. */
  def fold[T](ds: Dataset[T])(op: (T, T) => T): T = ds.reduce(op)

  /** F5/K4 batch form: route each row to its topic's directory in a
    * single partitioned write (no driver-side producer map, no per-topic
    * loop — the write itself is the router).
    */
  def partitionedByTopic(df: DataFrame, baseDir: String): Unit =
    df.withColumn("topic", Payloads.normalizeTopic(col("topic")))
      .write.mode("append").partitionBy("topic").parquet(baseDir)

  /** The store front door: the one foreachBatch loop of every
    * persisted store's stream. A stream supplies its per-batch `body`;
    * the loop owns the policy the stores share:
    *
    *  - heal before batch 0: each of `tables` goes through
    *    [[Bucketed.recover]] before the query starts — a replayed
    *    compaction heals a crashed swap only on a compaction batch, but
    *    batch 0 reads the store at once;
    *  - the checkpoint (ack = checkpoint commit, at-least-once
    *    redelivery, so every body is replay-idempotent), written on
    *    [[LocalFiles]]' filesystem;
    *  - `compactEvery`: run `compact` before batches N, 2N, … (never
    *    batch 0; also when that batch is empty; 0 = never). Per-trigger
    *    appends add one file set per bucket or partition per batch, and
    *    the [[Bucketed.swap]] rewrite keeps reads from degrading over a
    *    long ingest — between batches, never under one;
    *  - `prepare`: a per-batch projection the body reads more than once.
    *    The loop persists it, probes it and unpersists it after the body
    *    (also when the body throws); without it the raw batch is probed,
    *    not persisted;
    *  - the emptiness probe: an empty batch runs no body.
    */
  def ingest(spark: SparkSession, input: DataFrame, checkpointDir: String,
      tables: Seq[String], compactEvery: Int = 0,
      compact: () => Unit = () => (),
      prepare: Option[DataFrame => DataFrame] = None)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    tables.foreach(Bucketed.recover(spark, _))
    LocalFiles.install(input.sparkSession)
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          compact()
        prepare match {
          case None =>
            if (!batch.isEmpty) body(batch, batchId)
          case Some(project) =>
            val b = project(batch).persist()
            try if (!b.isEmpty) body(b, batchId)
            finally b.unpersist()
        }
      }
      .start()
  }

  /** `df` collected to the driver and re-wrapped as a local frame — the
    * ChunkStream lazy-frame rule: a frame handed to a callback must not
    * derive from a store the batch is about to mutate, or a callback
    * that consumes it after the append (or after a later batch)
    * recomputes it against the grown store.
    */
  def collected(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*),
      df.schema)

  /** The withholding dedup-on-ingest step of [[WinnowStream]] and
    * [[EmbedDedupStream]] over one persisted, non-empty batch `b`: the
    * batch's `probe` verdicts against the store, collected and handed
    * to `onFlagged`; the batch minus the flagged `key`s (`flaggedKeys`
    * of the verdicts) appended; the appended keys handed to `onBatch`.
    * Both frames are collected before the append mutates the store
    * ([[collected]]). Probe-then-append order makes a batch's survivors
    * visible to the NEXT batch but never to their own probe.
    *
    * `probe = None` is the index-build mode: no verdict can withhold
    * anything, so the probe would be pure per-trigger overhead — the
    * whole batch is appended and its keys reported.
    */
  private[streaming] def withhold(spark: SparkSession, b: DataFrame,
      key: String, probe: Option[DataFrame],
      flaggedKeys: DataFrame => DataFrame, append: DataFrame => Unit,
      onFlagged: DataFrame => Unit, onBatch: DataFrame => Unit): Unit =
    probe match {
      case None =>
        append(b)
        onBatch(collected(spark, b.select(col(key))))
      case Some(p) =>
        val verdicts = p.persist()
        try {
          onFlagged(collected(spark, verdicts))
          val fresh = b.join(flaggedKeys(verdicts), Seq(key), "left_anti")
            .persist()
          try {
            val kept = collected(spark, fresh.select(col(key)))
            append(fresh)
            onBatch(kept)
          } finally fresh.unpersist()
        } finally verdicts.unpersist()
    }
}
