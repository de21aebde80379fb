package graft.streaming

import graft.operators.Retrieval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Serving front door for the clustered-at-rest ANN layout — the
  * request-side twin of [[EmbeddingStream]]'s ingest side: query
  * vectors arrive as a stream, and each micro-batch is answered with
  * its per-query top-k by [[Retrieval.serveTopK]] (the q143-gated
  * definition — probe-set assignment map-side against the literal
  * codebook, layout scan partition-pruned to the batch's probed
  * clusters, per-query window top-k).
  *
  * Serving is READ-ONLY over the layout: no store mutation, so the
  * at-least-once foreachBatch replay contract is trivially safe — a
  * re-delivered batch recomputes the identical answer (the layout is
  * append-controlled elsewhere; within one trigger the scan sees one
  * snapshot). The results frame handed to `onResults` is therefore
  * safe to consume lazily, but [[RetrievalStreamSpec]] collects it
  * inside the callback anyway — the ChunkStream lesson applied as
  * convention, so a later layout-mutating composition (serve + ingest
  * in one pipeline) cannot silently change verdicts.
  *
  * Scale stance: per trigger the work is one map-side pass over the
  * admission-bounded query batch + a scan of ≤ nprobe·|batch| distinct
  * cluster partitions (≤ K — never the full corpus) + a window over
  * those candidates — the plan a serving tier wants. The trained
  * codebook and clustered layout are LAYOUTS (built once, Bench-warmup
  * class); this stream never re-trains or re-clusters.
  *
  * @param queries streaming DataFrame with (query_id, embedding)
  * @param dir     dataset dir whose trained/clustered layout serves
  * @param onResults receives each batch's (query_id, vec_id, cos_sim,
  *                  rnk) frame
  */
object RetrievalStream {

  /** @param table serve from this layout table instead of the dir's
    *               batch build — the [[AnnStream]] composition: one
    *               incrementally-growing table ingested by AnnStream
    *               and served by this stream, so vectors appended in
    *               trigger N answer queries from trigger N+1 on.
    */
  def start(spark: SparkSession, queries: DataFrame, dir: String,
      checkpointDir: String,
      onResults: DataFrame => Unit,
      nprobe: Int = 2, k: Int = 10,
      table: Option[String] = None): StreamingQuery = {
    // build the layouts BEFORE the first trigger, not inside it — a
    // first-request train/cluster would stall the stream for the whole
    // corpus pass
    graft.operators.Similarity.ensureTrained(spark, dir)
    if (table.isEmpty) graft.operators.Similarity.ensureClustered(spark, dir)
    Sinks.ingest(spark, queries, checkpointDir, Nil,
        prepare = Some(_.select("query_id", "embedding"))) { (b, _) =>
      val res = Retrieval.serveTopK(spark, dir, b, nprobe, k, table).persist()
      try onResults(res) finally res.unpersist()
    }
  }
}
