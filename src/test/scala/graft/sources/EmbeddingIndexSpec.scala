package graft.sources

import graft.SparkTestSession
import graft.operators.Similarity
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{max, sum}
import org.scalatest.funsuite.AnyFunSuite

/** The persisted sign-LSH embedding index: probe must not shuffle the
  * store side, and index-derived pairs must be bit-identical to the
  * from-raw-embeddings q25 pipeline.
  */
class EmbeddingIndexSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("probe shuffles only the batch side; the index side is exchange-free") {
    import spark.implicits._
    val corpus = graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val table = EmbeddingIndex.build(spark, corpus,
      s"probeplan${System.nanoTime()}")
    val batch = corpus.filter($"vec_id" < 3)
      .selectExpr("vec_id + 1000000 AS vec_id", "embedding")

    val pinned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val old = pinned.map { case (k, _) => k -> spark.conf.getOption(k) }
    pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val probe = EmbeddingIndex.probe(spark, table, batch)
      val plan = probe.queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty, "the batch side is expected to shuffle")
      def indexScanShuffled(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
        if (n.nodeName.contains("Join")) false
        else if (n.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
            && n.verboseStringWithSuffix(1000).toLowerCase
              .contains(table.toLowerCase)) true
        else n.children.exists(indexScanShuffled)
      shuffles.foreach { e =>
        assert(!e.children.exists(indexScanShuffled),
          s"index scan shuffled before its join:\n$e")
      }
      // and a batch vector that IS a stored vector's twin gets flagged
      assert(probe.count() > 0, "re-probing stored vectors must find pairs")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("banded LSH keeps bucket occupancy and candidate volume near-linear at sf0.1") {
    import spark.implicits._
    // The reason sign-LSH is BANDED (4 × 16 planes, 2^16 ids per band)
    // instead of one flat 8-bit bucket id: within-bucket pairing must
    // stay near-linear in N or the near-dup join dies at 100 TB. Bound
    // both the max (band, bh) occupancy and the implied candidate-pair
    // count (sum of n·(n−1)/2 over buckets) at the largest local SF.
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .select("vec_id", "embedding")
    val n = emb.count()
    val occ = EmbeddingIndex.indexRows(emb)
      .groupBy($"band", $"bh").count()
      .agg(max($"count").as("maxOcc"),
        sum($"count" * ($"count" - 1) / 2).as("candPairs"))
      .as[(Long, Double)].head()
    assert(occ._1 <= n / 20,
      s"max band-bucket occupancy ${occ._1} exceeds N/20 (N=$n)")
    assert(occ._2 <= 20.0 * n,
      s"candidate pairs ${occ._2} exceed 20·N (N=$n)")
  }

  test("index compaction preserves pairs and the exchange-free probe") {
    import spark.implicits._
    val corpus = graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val table = EmbeddingIndex.build(spark, corpus.filter($"vec_id" < 400),
      s"compact${System.nanoTime()}")
    EmbeddingIndex.appendFresh(spark, table,
      corpus.filter($"vec_id" >= 400 && $"vec_id" < 450))
    val before = EmbeddingIndex.pairs(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    EmbeddingIndex.compact(spark, table)
    val after = EmbeddingIndex.pairs(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(before.nonEmpty && after == before)
  }

  test("index-derived pairs are bit-identical to the from-raw q25 pairs") {
    val table = EmbeddingIndex.ensure(spark, dir)
    val fromIndex = EmbeddingIndex.pairs(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val fromRaw = Similarity.qEmbedNearDup.build(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(fromIndex.nonEmpty, "sf0.001 contains embedding near-dup pairs")
    assert(fromIndex.toSeq == fromRaw.toSeq)
  }
}
