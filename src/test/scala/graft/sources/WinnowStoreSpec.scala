package graft.sources

import graft.SparkTestSession
import graft.operators.Dedup
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** The persisted winnowing-fingerprint store: store-derived pairs must
  * be bit-identical to the from-text gated q213 (after any ingest
  * order), probes must never shuffle the store side, and the
  * at-least-once replay contract must hold — the SignatureStore
  * discipline applied to the MOSS fingerprint family.
  */
class WinnowStoreSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def corpus = graft.Tables.load(spark, dir, "documents")
    .select("doc_id", "text")

  private def q213Rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).sorted.toSeq

  test("store pairs ≡ gated q213 bit-exactly, for build-at-once AND batched ingest") {
    val batchResult = q213Rows(Dedup.qWinnowPairs.build(spark, dir))

    val whole = WinnowStore.build(spark, corpus,
      s"all${System.nanoTime()}")
    assert(q213Rows(WinnowStore.pairs(spark, whole)) == batchResult)

    // same corpus arriving as build + two appends: pairs must not
    // depend on ingest order (the df cap reads the FINAL store)
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    import spark.implicits._
    val thirds = docs.grouped((docs.length + 2) / 3).toSeq
    val inc = WinnowStore.build(spark,
      thirds.head.toSeq.toDF("doc_id", "text"), s"inc${System.nanoTime()}")
    thirds.tail.foreach(g =>
      WinnowStore.append(spark, inc, g.toSeq.toDF("doc_id", "text")))
    assert(q213Rows(WinnowStore.pairs(spark, inc)) == batchResult)
  }

  test("probe ≡ q213 over store ∪ batch restricted to (new × stored) pairs") {
    import spark.implicits._
    val store = WinnowStore.build(spark, corpus,
      s"probe${System.nanoTime()}")
    // three new docs: two near-copies of stored docs (shared runs far
    // longer than w + k − 1 words), one unrelated
    val src = corpus.filter("doc_id IN (1, 2)").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val batch = Seq(
      (900001L, src(0)._2 + " tail words here"),
      (900002L, src(1)._2),
      (900003L, (0 until 40).map(i => s"unrelated$i").mkString(" ")))
      .toDF("doc_id", "text")

    val got = WinnowStore.probe(spark, store, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq

    // the stated contract, computed through the batch path
    val full = Dedup.winnowPairsFrom(Dedup.winnowCapped(
      Dedup.winnowFingerprints(corpus.unionByName(batch))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val batchIds = Set(900001L, 900002L, 900003L)
    val expected = full.flatMap { case (a, b, shared, na, nb, _) =>
      (batchIds.contains(a), batchIds.contains(b)) match {
        case (true, false) => Some((a, b, shared, na))
        case (false, true) => Some((b, a, shared, nb))
        case _ => None
      }
    }.sorted.toSeq
    assert(expected.nonEmpty, "the near-copies must pair with their sources")
    assert(got == expected)
  }

  test("probe shuffles only batch-sized frames; the store side is exchange-free") {
    import spark.implicits._
    val store = WinnowStore.build(spark, corpus,
      s"plan${System.nanoTime()}")
    val batch = Seq((900010L, corpus.filter("doc_id = 3")
      .collect()(0).getString(1) + " coda")).toDF("doc_id", "text")
    val pinned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val old = pinned.map { case (k, _) => k -> spark.conf.getOption(k) }
    pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // the one subplan that touches the fp store (probe flushes it once;
      // everything downstream reads batch-sized scratch): the bucketed
      // scan must leave through BROADCAST semi/anti joins — no shuffle
      // anywhere on the store scan's path, even with auto-broadcast
      // disabled (the hints are explicit); the batch side's window pass
      // shuffles batch-sized frames inside the broadcast builds, which
      // is the design
      def hasStoreScan(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
        (n.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
          && n.verboseStringWithSuffix(1000).toLowerCase
            .contains(store.fp.toLowerCase)) ||
          n.children.exists(hasStoreScan)
      val srPlan = WinnowStore.storeRowsPlan(spark, store,
          Dedup.winnowFingerprints(batch), batch)
        .queryExecution.executedPlan
      assert(hasStoreScan(srPlan),
        "store-rows plan must actually scan the fp store")
      srPlan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        assert(!hasStoreScan(e),
          s"store scan sits under a shuffle in the store-rows plan:\n$e")
      }

      // the full probe still shuffles — but only batch-sized frames
      // (its window pass and aggregates over the flushed scratch)
      val plan = WinnowStore.probe(spark, store, batch)
        .queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty, "the batch side is expected to shuffle")
      def storeScanShuffledPreJoin(
          n: org.apache.spark.sql.execution.SparkPlan): Boolean =
        if (n.nodeName.contains("Join")) false
        else if (n.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
            && n.verboseStringWithSuffix(1000).toLowerCase
              .contains(store.fp.toLowerCase)) true
        else n.children.exists(storeScanShuffledPreJoin)
      shuffles.foreach { e =>
        assert(!e.children.exists(storeScanShuffledPreJoin),
          s"store scan shuffled before its join:\n$e")
      }
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("append is idempotent and probe verdicts are replay-stable") {
    import spark.implicits._
    val store = WinnowStore.build(spark, corpus,
      s"replay${System.nanoTime()}")
    val base = (0 until 40).map(w => s"fresh$w").mkString(" ")
    val batch = Seq((910001L, base), (910002L, base + " extra tail"))
      .toDF("doc_id", "text") // near-dups of EACH OTHER, new to the store
    assert(WinnowStore.probe(spark, store, batch).count() == 0,
      "nothing similar is stored yet")
    WinnowStore.append(spark, store, batch)
    val rows = spark.table(store.fp).count()

    // replay after a post-append crash: same verdicts, no duplicate rows
    assert(WinnowStore.probe(spark, store, batch).count() == 0,
      "replay verdicts must match the original run")
    WinnowStore.append(spark, store, batch)
    assert(spark.table(store.fp).count() == rows)

    // a LATER batch still probes against the replay-appended docs
    val later = Seq((910003L, base + " coda")).toDF("doc_id", "text")
    assert(WinnowStore.probe(spark, store, later)
      .select("dup_of").as[Long].collect().toSet == Set(910001L, 910002L))
  }

  test("compaction shrinks files without changing pairs; crash swap recovers") {
    import spark.implicits._
    val store = WinnowStore.build(spark, corpus,
      s"compact${System.nanoTime()}")
    (0 until 4).foreach { b =>
      WinnowStore.append(spark, store,
        Seq((920000L + b, (0 until 40).map(w => s"c${b}w$w").mkString(" ")))
          .toDF("doc_id", "text"))
    }
    def files: Int = {
      val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
      val d = new java.io.File(new java.io.File(warehouse.getPath),
        store.fp.toLowerCase)
      Option(d.listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    }
    val before = q213Rows(WinnowStore.pairs(spark, store))
    val filesBefore = files
    store.keyed.compact(spark)
    assert(files < filesBefore)
    assert(q213Rows(WinnowStore.pairs(spark, store)) == before)

    // crash window: twin materialized, canonical dropped, rename lost
    val tmp = s"${store.fp}_compact"
    spark.table(store.fp).write.bucketBy(WinnowStore.Buckets, "fp")
      .sortBy("fp").mode("overwrite").saveAsTable(tmp)
    Bucketed.dropStale(spark, store.fp)
    Seq(store.fp, store.docs).foreach(Bucketed.recover(spark, _))
    assert(spark.catalog.tableExists(store.fp))
    assert(q213Rows(WinnowStore.pairs(spark, store)) == before)
  }
}
