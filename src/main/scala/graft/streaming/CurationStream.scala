package graft.streaming

import graft.TextMetrics
import graft.functions.PolyHash
import graft.sources.SignatureStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of the batch curation pipeline
  * ([[graft.operators.Curation]]): documents arrive continuously, and
  * each micro-batch is exact-deduped (against everything seen within the
  * watermark horizon), quality-filtered, and annotated with token counts
  * — the continuous-ingest front door of a training-data pipeline.
  *
  * Scale shape: dedup state is keyed by the 8-byte content hash (not the
  * text) and bounded by the watermark horizon; the quality filter and
  * token count are stateless map-side projections. Near-dup (MinHash-LSH)
  * stays a batch job over the deduped store — banding needs a global view
  * that a per-trigger stream cannot have; the stream's job is to keep the
  * store exact-duplicate-free and quality-bounded on the way in.
  */
object CurationStream {

  /** @param docs streaming DataFrame with (doc_id, ts, text, n_chars)
    * @param keepText retain the raw text column in the output (needed by
    *                 the incremental near-dup front door, which signs
    *                 each curated batch)
    */
  def curate(docs: DataFrame, watermarkDelay: String = "1 hour",
      minChars: Int = 50, maxChars: Int = 10000,
      maxStopRatio: Double = 0.5, keepText: Boolean = false): DataFrame = {
    // quality metrics come from the ONE shared definition (TextMetrics) so
    // the streaming gate can never silently fork from the batch gate; a
    // zero-word doc gets a NULL ratio and is dropped deterministically
    val words = TextMetrics.wordCount(col("text"))
    val stops = TextMetrics.stopCount(col("text"))
    val out = Seq(col("doc_id"), col("text_hash"), col("n_words"),
      col("stop_ratio")) ++ (if (keepText) Seq(col("text")) else Nil)
    docs
      .withColumn("text_hash", PolyHash(col("text")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("text_hash")
      .withColumn("n_words", words.cast("long"))
      .withColumn("stop_ratio", TextMetrics.stopRatio(words, stops))
      .filter(col("n_chars") >= minChars && col("n_chars") <= maxChars
        && col("stop_ratio") < maxStopRatio)
      .select(out: _*)
  }

  /** The incremental near-dup front door: [[curate]] plus a persisted
    * [[SignatureStore]] probe/upsert per micro-batch.
    *
    * Each curated batch is (1) PROBED against the store — a verified
    * near-dup of ANY previously stored document is flagged and withheld
    * from the curated output, however long ago its twin arrived; then
    * (2) the surviving documents' signatures/bands are APPENDED to the
    * store, so later batches (or the next batch) probe against them too.
    * Nothing ever re-bands the corpus: the probe shuffles only the tiny
    * admission-bounded batch side (the store is bucketed by the band
    * key), and the upsert is a map-side signature pass plus a bucketed
    * append.
    *
    * Failure/replay contract: foreachBatch is at-least-once, so a crash
    * after the append re-delivers the batch. The STORE stays exact:
    * [[SignatureStore.append]] is idempotent per doc_id (anti-join
    * against the stored sig set) and [[SignatureStore.probe]] excludes
    * the batch's own doc_ids from `dup_of`, so a replay produces the
    * original verdicts and appends nothing twice. The callbacks
    * themselves remain at-least-once (as with every foreachBatch sink) —
    * downstream consumers dedupe on doc_id if they need exactly-once.
    *
    * @param onBatch   receives each batch's surviving curated rows
    * @param onFlagged receives each batch's near-dup verdicts
    *                  (doc_id, dup_of, jaccard)
    * @param compactEvery see [[Sinks.ingest]]; the compaction is
    *                  [[KeyedStore.compact]]
    */
  def startIncremental(spark: SparkSession, docs: DataFrame,
      store: SignatureStore.Store, checkpointDir: String,
      onBatch: DataFrame => Unit,
      onFlagged: DataFrame => Unit = _ => (),
      compactEvery: Int = 0): StreamingQuery =
    Sinks.ingest(spark, curate(docs, keepText = true), checkpointDir,
        store.keyed.names, compactEvery,
        () => store.keyed.compact(spark), Some(identity)) { (b, _) =>
      val verdicts = SignatureStore
        .probe(spark, store, b.select(col("doc_id"), col("text"))).persist()
      try {
        onFlagged(verdicts)
        val fresh = b.join(verdicts.select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti").persist()
        try {
          // collected before the append mutates the store
          // (Sinks.collected); probe-then-append order guarantees a
          // batch's survivors are visible to the NEXT batch but never to
          // their own probe (no self-pairs)
          val kept = Sinks.collected(spark, fresh.drop("text"))
          SignatureStore.append(spark, store,
            fresh.select(col("doc_id"), col("text")))
          onBatch(kept)
        } finally fresh.unpersist()
      } finally verdicts.unpersist()
    }
}
