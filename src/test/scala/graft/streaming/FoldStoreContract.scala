package graft.streaming

import scala.jdk.CollectionConverters._

import graft.{SparkTestSession, Tables}
import graft.sources.Bucketed
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The executable [[FoldStore]] CONTRACT — the replay, restart,
  * compaction and crash behavior every guarded-fold monitor rests on,
  * as a fixture a monitor passes by providing one factory per hook (the
  * [[TopicContract]] pattern). The six monitors pass it below.
  *
  * Contract clauses (each a test, over a few small slices of the
  * committed sf0.001 corpus fed as micro-batches):
  *  - the streamed store serves what a direct fold of the same slices
  *    serves, and a replay of the latest (ckpt, batch_id) appends
  *    nothing and leaves the report bit-identical;
  *  - a fresh-checkpoint restart folds its batches under the new ckpt;
  *  - compaction leaves the report unchanged and bounds the rows at
  *    |merged| + |latest fold|, and a replay after it still appends
  *    nothing;
  *  - a crash at either step of the rename swap — (a) a stale `_compact`
  *    twin beside the canonical table, (b) the canonical table dropped
  *    and only the twin left — heals on the next start or compaction,
  *    with the report unchanged.
  */
trait FoldStoreContract extends AnyFunSuite with SparkTestSession {

  /** Monitor label (test-name prefix and table tag). */
  def kind: String

  /** The monitor's input columns over the corpus, in a fixed order. */
  def input: DataFrame

  /** A fresh, empty store. */
  def build(tag: String): FoldStore

  /** The monitor's front door over `in`. */
  def start(store: FoldStore, in: DataFrame, ckpt: String,
      compactEvery: Int): StreamingQuery

  /** The monitor's per-batch summary. */
  def summary(batch: DataFrame): DataFrame

  /** The monitor's served report over the store. */
  def report(store: FoldStore): DataFrame

  protected val dir = "/root/testdata/sf0.001"

  private lazy val schema = input.schema
  private lazy val slices: Seq[Seq[Row]] =
    input.limit(150).collect().toSeq.grouped(50).toSeq

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory(s"graft-fold-$kind-").toString

  private def ingest(store: FoldStore, ckpt: String, batches: Seq[Seq[Row]],
      compactEvery: Int = 0): Unit = {
    val src = Sources.queue[Row](spark)(Encoders.row(schema))
    val q = start(store, src.toDF(), ckpt, compactEvery)
    try batches.foreach { b =>
      src.addData(b)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** The report of a store folded directly from `batches`, no stream. */
  private def directReport(batches: Seq[Seq[Row]]): Seq[String] = {
    val ref = build(s"${kind}_direct")
    batches.zipWithIndex.foreach { case (b, i) =>
      ref.append(spark, summary(frame(b)), "direct", i.toLong) }
    try rows(report(ref)) finally Bucketed.dropStale(spark, ref.table)
  }

  private def withStore(tag: String)(body: FoldStore => Unit): Unit = {
    val store = build(s"${kind}_$tag")
    try body(store) finally {
      Bucketed.dropStale(spark, store.table)
      Bucketed.dropStale(spark, s"${store.table}_compact")
    }
  }

  private def replayLatest(store: FoldStore, ckpt: String): Unit =
    store.append(spark, summary(frame(slices.last)), ckpt, slices.size - 1L)

  test(s"[$kind] streamed fold ≡ direct fold; replaying the latest batch appends nothing") {
    withStore("replay") { store =>
      val ckpt = fresh()
      ingest(store, ckpt, slices, compactEvery = 2)
      val rep = rows(report(store))
      assert(rep.nonEmpty && rep == directReport(slices))
      val n = spark.table(store.table).count()
      replayLatest(store, ckpt)
      assert(spark.table(store.table).count() == n,
        "a replayed batch appended rows past the guard")
      assert(rows(report(store)) == rep, "a replay changed the report")
    }
  }

  test(s"[$kind] a fresh-checkpoint restart folds its batches under the new ckpt") {
    withStore("restart") { store =>
      val ckpt2 = fresh()
      val (before, after) = slices.splitAt(slices.size - 1)
      ingest(store, fresh(), before)
      // the restart re-issues batch_id 0, which the first lineage holds
      ingest(store, ckpt2, after)
      assert(spark.table(store.table).filter(col("ckpt") === ckpt2).count() > 0,
        "the restart's batch was dropped as a replay")
      assert(rows(report(store)) == directReport(slices))
    }
  }

  test(s"[$kind] compaction keeps the report and bounds the rows") {
    withStore("compact") { store =>
      val ckpt = fresh()
      ingest(store, ckpt, slices)
      val rep = rows(report(store))
      val latest = spark.table(store.table)
        .filter(col("ckpt") === ckpt && col("batch_id") === slices.size - 1L)
        .count()
      val merged = store.merged(spark).count()
      store.compact(spark, ckpt)
      assert(rows(report(store)) == rep, "compaction changed the report")
      val n = spark.table(store.table).count()
      assert(n <= merged + latest, s"compaction left $n rows")
      replayLatest(store, ckpt)
      assert(spark.table(store.table).count() == n,
        "a replay after compaction appended rows")
    }
  }

  test(s"[$kind] a crash at either step of the rename swap heals on the next start or compaction") {
    withStore("crash") { store =>
      val ckpt = fresh()
      ingest(store, ckpt, slices)
      val rep = rows(report(store))
      val twin = s"${store.table}_compact"
      // (a) the swap died before dropping the canonical table: a stale,
      // partial twin sits beside it
      def staleTwin(): Unit =
        spark.table(store.table).limit(1).write.mode("overwrite").saveAsTable(twin)
      // (b) the swap died between the drop and the rename: only the
      // complete twin is left
      def twinOnly(): Unit = {
        spark.table(store.table).write.bucketBy(FoldStore.Buckets, store.bucket)
          .sortBy(store.bucket).mode("overwrite").saveAsTable(twin)
        spark.sql(s"DROP TABLE ${store.table}")
      }
      def restart(): Unit = ingest(store, fresh(), Nil)
      def compact(): Unit = store.compact(spark, ckpt)
      for ((crash, state, heal, entry) <- Seq(
          (staleTwin _, "a", restart _, "start"),
          (staleTwin _, "a", compact _, "compaction"),
          (twinOnly _, "b", restart _, "start"),
          (twinOnly _, "b", compact _, "compaction"))) {
        crash()
        heal()
        assert(spark.catalog.tableExists(store.table),
          s"crash state ($state): the $entry did not restore the store")
        assert(rows(report(store)) == rep,
          s"crash state ($state): the report changed after the $entry")
        if (entry == "compaction")
          assert(!spark.catalog.tableExists(twin),
            s"crash state ($state): the compaction left the twin behind")
      }
    }
  }
}

class AnomalyFoldStoreSpec extends FoldStoreContract {
  def kind = "anomaly"
  def input = Tables.load(spark, dir, "events").orderBy("event_id")
    .select("event_type", "ts")
  def build(tag: String) = AnomalyStream.build(spark, tag)
  def start(store: FoldStore, in: DataFrame, ckpt: String, every: Int) =
    AnomalyStream.startIncremental(spark, in, store, ckpt, _ => (), every)
  def summary(batch: DataFrame) = AnomalyStream.batchGrid(batch)
  def report(store: FoldStore) = AnomalyStream.serve(spark, store)
}

class DistinctFoldStoreSpec extends FoldStoreContract {
  def kind = "distinct"
  def input = Tables.load(spark, dir, "events").orderBy("event_id")
    .select(col("event_type"), col("user_id"), expr("unix_micros(ts)").as("tus"))
  def build(tag: String) = DistinctStream.build(spark, tag)
  def start(store: FoldStore, in: DataFrame, ckpt: String, every: Int) =
    DistinctStream.startIncremental(spark, in, store, ckpt, _ => (), every)
  def summary(batch: DataFrame) = DistinctStream.batchRegisters(batch)
  def report(store: FoldStore) = DistinctStream.rollingReport(spark, store)
}

class DriftFoldStoreSpec extends FoldStoreContract {
  def kind = "drift"
  def input = Tables.load(spark, dir, "documents").orderBy("doc_id")
    .select("doc_id", "source", "text")
  def build(tag: String) = DriftStream.build(spark, tag)
  def start(store: FoldStore, in: DataFrame, ckpt: String, every: Int) =
    DriftStream.startIncremental(spark, in, store, ckpt, _ => (), every)
  def summary(batch: DataFrame) = graft.operators.TextAnalysis.lengthHist(batch)
  def report(store: FoldStore) = DriftStream.report(spark, store)
}

class EvalFoldStoreSpec extends FoldStoreContract {
  def kind = "eval"
  def input = Tables.load(spark, dir, "documents").orderBy("doc_id")
    .select("source", "text")
  def build(tag: String) = EvalStream.build(spark, tag)
  def start(store: FoldStore, in: DataFrame, ckpt: String, every: Int) =
    EvalStream.startIncremental(spark, in, store, ckpt, _ => (), every)
  def summary(batch: DataFrame) = EvalStream.batchGrid(batch)
  def report(store: FoldStore) = EvalStream.serve(spark, store)
}

class FreqFoldStoreSpec extends FoldStoreContract {
  def kind = "freq"
  def input = Tables.load(spark, dir, "documents").orderBy("doc_id")
    .select("doc_id", "source", "text")
  def build(tag: String) = FreqStream.build(spark, tag)
  def start(store: FoldStore, in: DataFrame, ckpt: String, every: Int) =
    FreqStream.startIncremental(spark, in, store, ckpt, _ => (), every)
  def summary(batch: DataFrame) = FreqStream.batchSummary(batch)
  def report(store: FoldStore) = FreqStream.report(spark, store)
}

class ManifestFoldStoreSpec extends FoldStoreContract {
  def kind = "manifest"
  def input = Tables.load(spark, dir, "documents").orderBy("doc_id")
    .select("doc_id", "text")
  def build(tag: String) = ManifestStream.build(spark, tag)
  def start(store: FoldStore, in: DataFrame, ckpt: String, every: Int) =
    ManifestStream.startIncremental(spark, in, store, ckpt, _ => (), every)
  def summary(batch: DataFrame) = graft.operators.Corpus.shardManifest(batch)
  def report(store: FoldStore) = ManifestStream.manifest(spark, store)
}
