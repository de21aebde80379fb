package graft.sources

import graft.SparkTestSession
import graft.operators.Dedup
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** The persisted signature/band store: the probe plan must never shuffle
  * the store side (that's the whole point — a 100 TB store probed by a
  * tiny batch), and store-derived pairs must be bit-identical to the
  * from-text LSH pipeline (q23).
  */
class SignatureStoreSpec extends AnyFunSuite with SparkTestSession {

  private def corpusDf(n: Int) = {
    import spark.implicits._
    (1 to n).map(i =>
      (i.toLong, (0 until 40).map(w => s"w${i}x$w").mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("probe shuffles only the batch side; the store side is exchange-free") {
    import spark.implicits._
    val store = SignatureStore.build(spark, corpusDf(50),
      s"probeplan${System.nanoTime()}")
    val batch = Seq((1000L, (0 until 40).map(w => s"w1x$w").mkString(" ") + " tail"))
      .toDF("doc_id", "text")

    // pin to the shuffle path while asserting, as q45 does: the check is
    // about bucketing, not broadcast thresholds or AQE re-planning
    val pinned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val old = pinned.map { case (k, _) => k -> spark.conf.getOption(k) }
    pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val probe = SignatureStore.probe(spark, store, batch)
      val plan = probe.queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty, "the batch side is expected to shuffle")
      // a store scan must never be shuffled BEFORE reaching its join: the
      // store is read in place through its bucketing. (Downstream of a
      // join, derived candidate rows legitimately shuffle — descend from
      // each exchange but stop at the first join.)
      def storeScanShuffledPreJoin(n: org.apache.spark.sql.execution.SparkPlan)
          : Boolean =
        if (n.nodeName.contains("Join")) false
        else if (n.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
            && {
              val s = n.verboseStringWithSuffix(1000).toLowerCase
              s.contains(store.bands.toLowerCase) || s.contains(store.sig.toLowerCase)
            }) true
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
    // foreachBatch is at-least-once: a crash after the upsert re-delivers
    // the same batch. The store must absorb the replay exactly — no
    // duplicated sig/band rows, and the re-probe must return the ORIGINAL
    // run's verdicts (the batch's own docs, now present in the store, are
    // not "prior art" against themselves).
    val store = SignatureStore.build(spark, corpusDf(30),
      s"replay${System.nanoTime()}")
    val base = (0 until 40).map(w => s"fresh$w").mkString(" ")
    val batch = Seq((2001L, base), (2002L, base + " tail"))
      .toDF("doc_id", "text") // two near-dups OF EACH OTHER, new to the store
    assert(SignatureStore.probe(spark, store, batch).count() == 0,
      "nothing similar is stored yet")
    SignatureStore.append(spark, store, batch)
    val sigN = spark.table(store.sig).count()
    val bandN = spark.table(store.bands).count()

    // replay after a post-append crash
    assert(SignatureStore.probe(spark, store, batch).count() == 0,
      "replay verdicts must match the original run")
    SignatureStore.append(spark, store, batch)
    assert(spark.table(store.sig).count() == sigN,
      "sig rows must not duplicate on replay")
    assert(spark.table(store.bands).count() == bandN,
      "band rows must not duplicate on replay")

    // a LATER batch still probes against the replay-appended docs
    val later = Seq((2003L, base + " coda")).toDF("doc_id", "text")
    assert(SignatureStore.probe(spark, store, later)
      .select("dup_of").as[Long].collect().toSet == Set(2001L, 2002L),
      "genuinely new near-dups are still caught against the stored batch")
  }

  test("compaction shrinks per-append file sets without changing results or plans") {
    import spark.implicits._
    val store = SignatureStore.build(spark, corpusDf(20),
      s"compact${System.nanoTime()}")
    // five appended micro-batches: one file set per bucket per append
    (0 until 5).foreach { b =>
      val docs = Seq((1000L + b, (0 until 40).map(w => s"b${b}w$w").mkString(" ")))
        .toDF("doc_id", "text")
      SignatureStore.append(spark, store, docs)
    }
    def files(table: String): Int = {
      val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
      val dir = new java.io.File(new java.io.File(warehouse.getPath), table.toLowerCase)
      Option(dir.listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    }
    val pairsBefore = SignatureStore.pairs(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val sigRows = spark.table(store.sig).count()
    val filesBefore = files(store.sig)

    store.keyed.compact(spark)

    assert(files(store.sig) < filesBefore,
      s"compaction must reduce ${filesBefore} sig files")
    assert(spark.table(store.sig).count() == sigRows)
    val pairsAfter = SignatureStore.pairs(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(pairsAfter == pairsBefore, "compaction must not change results")
    // the rewritten tables keep their bucket spec: probing still works
    // through the bucketed layout
    val batch = Seq((9000L, (0 until 40).map(w => s"b0w$w").mkString(" ") + " x"))
      .toDF("doc_id", "text")
    assert(SignatureStore.probe(spark, store, batch).count() > 0)
  }

  test("a compaction swap killed between drop and rename recovers on reopen/replay") {
    import spark.implicits._
    val store = SignatureStore.build(spark, corpusDf(25),
      s"crashswap${System.nanoTime()}")
    val docs = Seq((3001L, (0 until 40).map(w => s"cw$w").mkString(" ")))
      .toDF("doc_id", "text")
    SignatureStore.append(spark, store, docs)
    val pairsBefore = SignatureStore.pairs(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val sigRows = spark.table(store.sig).count()

    // simulate the crash window inside compact: the `_compact` twin is
    // fully materialized, the canonical table already dropped, the
    // rename never ran — the state that used to need a manual rename
    val tmp = s"${store.sig}_compact"
    spark.table(store.sig).write.bucketBy(SignatureStore.Buckets, "doc_id")
      .sortBy("doc_id").mode("overwrite").saveAsTable(tmp)
    Bucketed.dropStale(spark, store.sig)
    assert(!spark.catalog.tableExists(store.sig), "crash state: canonical gone")

    // the at-least-once replay path re-runs compact, which must self-heal
    // instead of failing with NoSuchTable
    store.keyed.compact(spark)
    assert(spark.catalog.tableExists(store.sig))
    assert(!spark.catalog.tableExists(tmp), "twin adopted, not left behind")
    assert(spark.table(store.sig).count() == sigRows)
    val pairsAfter = SignatureStore.pairs(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(pairsAfter == pairsBefore, "recovered store must be unchanged")

    // same crash state healed by the open path (recover), without compact
    spark.table(store.bands).write.bucketBy(SignatureStore.Buckets, "bk")
      .sortBy("bk").mode("overwrite").saveAsTable(s"${store.bands}_compact")
    Bucketed.dropStale(spark, store.bands)
    Seq(store.sig, store.bands).foreach(Bucketed.recover(spark, _))
    assert(spark.catalog.tableExists(store.bands))
    assert(SignatureStore.pairs(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      == pairsBefore)
  }

  test("compact isolates its conf: the caller's session keeps auto-bucketed scans") {
    import spark.implicits._
    val confKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val before = spark.conf.getOption(confKey)
    val store = SignatureStore.build(spark, corpusDf(10),
      s"confiso${System.nanoTime()}")
    store.keyed.compact(spark)
    assert(spark.conf.getOption(confKey) == before,
      "compact must not toggle session-global conf on the shared session")
  }

  test("store-derived pairs are bit-identical to the from-text q23 pairs") {
    val dir = "/root/testdata/sf0.001"
    val store = SignatureStore.ensure(spark, dir)
    val fromStore = SignatureStore.pairs(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val fromText = Dedup.qLshPairs.build(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(fromStore.nonEmpty, "sf0.001 contains near-dup pairs")
    assert(fromStore.toSeq == fromText.toSeq)
  }
}
