package graft.streaming

import graft.SparkTestSession
import graft.operators.Corpus
import org.scalatest.funsuite.AnyFunSuite

/** Pins the stream≡batch equivalence of the manifest front door: the
  * streamed store collapses to the gated q164 manifest bit-exactly
  * (modular checksum folding is exact) and the per-batch summaries tile
  * the corpus. Replay, restart, compaction and crash recovery are
  * [[FoldStoreContract]] clauses.
  */
class ManifestStreamSpec extends AnyFunSuite with SparkTestSession {
  import org.apache.spark.sql.functions._

  private val dir = "/root/testdata/sf0.001"

  private def collectManifest(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).sorted.toSeq

  test("streamed manifest ≡ the gated q164 manifest over everything ingested") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val store = ManifestStream.build(spark, "spec")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ms-ckpt-").toString
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Long, Long)]()

    val src = Sources.queue[(Long, String)](spark)
    val query = ManifestStream.startIncremental(
      spark, src.toDS().toDF("doc_id", "text"), store, ckpt,
      onBatch = r => r.collect().foreach(row => reports.add(
        (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)))),
      compactEvery = 2)
    val batches = docs.grouped(170).toSeq
    try {
      batches.foreach { g =>
        src.addData(g.toSeq)
        query.processAllAvailable()
      }
    } finally query.stop()

    // streamed store collapses to the batch manifest bit-exactly
    val batchManifest = collectManifest(
      Corpus.shardManifest(docs.toSeq.toDF("doc_id", "text")))
    assert(collectManifest(ManifestStream.manifest(spark, store))
      == batchManifest, "streamed manifest diverged from the gated q164")

    // ... equivalently: the q170 diff between the two manifests is empty
    val a = ManifestStream.manifest(spark, store)
      .toDF("shard", "n_docs_a", "n_tok_a", "checksum_a")
    val b = Corpus.shardManifest(docs.toSeq.toDF("doc_id", "text"))
      .toDF("shard", "n_docs_b", "n_tok_b", "checksum_b")
    val diff = a.join(b, Seq("shard"), "full_outer")
      .filter(not(col("checksum_a") <=> col("checksum_b")) ||
        not(col("n_docs_a") <=> col("n_docs_b")) ||
        not(col("n_tok_a") <=> col("n_tok_b")))
    assert(diff.count() == 0, "q170-style diff must localize zero shards")

    // per-batch summaries cover every batch, doc counts tile the corpus
    val reps = reports.toArray(Array.empty[(Long, Long, Long, Long)])
    assert(reps.map(_._1).toSet == batches.indices.map(_.toLong).toSet)
    assert(reps.map(_._3).sum == docs.length.toLong)
  }
}
