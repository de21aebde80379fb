package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the frequent-tokens monitor: the streamed store is bit-identical
  * to a driver-side fold of the same batch slices, every per-batch
  * report honors the two-sided guarantee against exact prefix counts
  * (reported ⇒ truly >n/k-frequent; >2n/k ⇒ reported). Replay,
  * restart, compaction and crash recovery are [[FoldStoreContract]]
  * clauses.
  */
class FreqStreamSpec extends AnyFunSuite with SparkTestSession {
  import org.apache.spark.sql.functions._

  private val dir = "/root/testdata/sf0.001"
  private val K = FreqStream.K

  /** Exact term counts + total of a doc slice (the truth the guarantees
    * are stated against).
    */
  private def exactCounts(docs: Seq[(Long, String, String)])
      : (Map[String, Long], Long) = {
    val toks = docs.flatMap(_._3.split(" ")).filter(_.nonEmpty)
    (toks.groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) },
      toks.length.toLong)
  }

  /** The expected per-batch summary, computed independently of Spark:
    * exact in-batch counts of terms with cnt·K > n_b plus the sentinel.
    */
  private def expectedSummary(
      slice: Seq[(Long, String, String)]): Seq[(String, Long)] = {
    val (c, nb) = exactCounts(slice)
    c.toSeq.filter { case (_, cnt) => cnt * K > nb } :+ ("" -> nb)
  }

  test("streamed store ≡ sliced fold; reports honor the two-sided guarantee") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
      .toSeq
    val store = FreqStream.build(spark, "spec")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fs-ckpt-").toString
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, Long, Long)]()

    val src = Sources.queue[(Long, String, String)](spark)
    val query = FreqStream.startIncremental(
      spark, src.toDS().toDF("doc_id", "source", "text"), store, ckpt,
      onBatch = r => r.collect().foreach(row => reports.add(
        (row.getLong(0), row.getString(1), row.getLong(2), row.getLong(3)))),
      compactEvery = 2)
    val batches = docs.grouped(17).toSeq
    try {
      batches.foreach { g =>
        src.addData(g)
        query.processAllAvailable()
      }
    } finally query.stop()

    // store ≡ the driver-side fold of the same slices (summed per term)
    val expectedFold = batches.flatMap(expectedSummary)
      .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).sum) }
    val storedEst = FreqStream.estimates(spark, store).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val storedTot = FreqStream.totalTokens(spark, store).collect()
      .head.getLong(0)
    assert(storedEst == expectedFold.filter(_._1.nonEmpty))
    assert(storedTot == expectedFold("") &&
      storedTot == exactCounts(docs)._2)

    // per-batch reports: two-sided guarantee against the exact prefix
    val byBatch = reports.toArray(Array.empty[(Long, String, Long, Long)])
      .groupBy(_._1)
    assert(byBatch.keySet == batches.indices.map(_.toLong).toSet)
    batches.indices.foreach { k =>
      val prefix = batches.take(k + 1).flatten
      val (exact, n) = exactCounts(prefix)
      val rep = byBatch(k.toLong).map(t => (t._2, t._3)).toMap
      rep.foreach { case (t, est) =>
        assert(est <= exact(t), s"batch $k: est above truth for $t")
        assert(exact(t) - est <= n / K,
          s"batch $k: est below truth - n/K for $t")
        assert(exact(t) * K > n,
          s"batch $k: reported $t is not >n/K-frequent")
      }
      exact.foreach { case (t, c) =>
        if (c * K > 2 * n)
          assert(rep.contains(t), s"batch $k: missed >2n/K term $t")
      }
      // at least the sf0.001 head terms must clear the 2n/K bar
      if (k == batches.indices.last) assert(rep.nonEmpty)
    }
  }
}
