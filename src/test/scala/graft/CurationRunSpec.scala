package graft

import graft.operators.{Dedup, Scratch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The end-to-end curation run must compose EXACTLY the gated
  * operators: each stage's parquet is cross-checked against the query
  * that certifies it, plus the layout invariants a training job
  * depends on.
  */
class CurationRunSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private lazy val out = {
    val d = java.nio.file.Files.createTempDirectory("graft-curation-").toString
    (d, CurationRun.run(spark, dir, d))
  }

  /** A second run, into a fresh dir, in the same JVM as [[out]]. */
  private lazy val second = {
    val d = java.nio.file.Files.createTempDirectory("graft-curation-").toString
    CurationRun.run(spark, dir, d)
  }

  test("the Summary's clean-stage counts match the written clean output") {
    val (o, sm) = out
    val clean = spark.read.parquet(s"$o/clean")
    assert(sm.nDocs == clean.count())
    assert(sm.tokensRemoved ==
      clean.agg(sum(col("n_removed"))).first().getLong(0))
    assert(sm.tokensRemoved > 0, "sf0.001 contains shared extents to splice")
  }

  test("a second run in the same JVM returns an identical Summary") {
    // the Summary is observed on each run's own writes, and the pair
    // flush tag carries the run nonce, so no count carries over
    val (_, sm) = out
    assert(second == sm)
  }

  test("two runs in one JVM leave no scratch directory behind") {
    // the scratch root, found through a probe flush that release deletes
    val tag = "curationrunspec-probe"
    val probe = java.nio.file.Paths.get(
      Scratch.flushPath(spark, tag, spark.range(1).toDF())).getParent
    Scratch.release(tag)
    assert(!probe.toFile.exists(), "release deletes the tag's live flush")
    def left() = probe.getParent.toFile.listFiles().map(_.getName)
      .filter(_.contains("curationrun-")).toSeq
    out
    assert(left().isEmpty, s"left after one run: ${left()}")
    second
    assert(left().isEmpty, s"left after two runs: ${left()}")
  }

  test("the clean stage is bit-identical to the gated q130 rewrite") {
    val (o, _) = out
    val fromRun = spark.read.parquet(s"$o/clean")
      .orderBy("doc_id").collect().toSeq
    val gated = Dedup.qSubstringRemove.build(spark, dir)
      .orderBy("doc_id").collect().toSeq
    assert(fromRun == gated)
  }

  test("the collapse stage honors the q131 keeper discipline over the cleaned corpus") {
    val (o, sm) = out
    val collapse = spark.read.parquet(s"$o/collapse")
    // every cleaned document appears exactly once
    assert(collapse.count() == sm.nDocs)
    assert(collapse.select("doc_id").distinct().count() == sm.nDocs)
    // the canonical doc of every group is kept, and is the group's
    // (score desc, doc_id asc) argmax — the q131 total order
    val viol = collapse.groupBy(col("canonical_id"))
      .agg(sum(when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L))
          .as("self_kept"),
        max_by(col("doc_id"),
          struct(col("score"), (-col("doc_id")).as("nid"))).as("argmax"))
      .filter(col("self_kept") =!= 1L || col("argmax") =!= col("canonical_id"))
    assert(viol.count() == 0)
    assert(collapse.filter(col("kept") === 1L).count() == sm.nKept)
    assert(sm.nKept < sm.nDocs, "sf0.001 contains near-dup clusters to collapse")
  }

  test("mixture plan and scorecard cover exactly the surviving sources") {
    val (o, sm) = out
    val kept = spark.read.parquet(s"$o/collapse").filter(col("kept") === 1L)
    val docs = Tables.load(spark, dir, "documents")
    val srcs = docs.join(kept.select("doc_id"), Seq("doc_id"))
      .select("source").distinct().count()
    assert(spark.read.parquet(s"$o/mixture").count() == srcs)
    assert(sm.nSources == srcs)
    // the scorecard's doc counts roll up to the shipped corpus
    val scN = spark.read.parquet(s"$o/scorecard")
      .agg(sum("n_docs")).first().getLong(0)
    assert(scN == sm.nKept)
    // shares are a distribution over the shipped corpus
    val natural = spark.read.parquet(s"$o/mixture")
      .agg(sum("natural_share")).first().getDouble(0)
    assert(math.abs(natural - 1.0) < 1e-9)
  }

  test("the provenance audit matches each stage's own verdicts") {
    val (o, sm) = out
    val prov = spark.read.parquet(s"$o/provenance")
    val byReason = prov.groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val spliced = spark.read.parquet(s"$o/clean").filter(col("n_removed") > 0)
    assert(byReason.getOrElse("substring_spliced", 0L) == spliced.count())
    val dropped = spark.read.parquet(s"$o/collapse").filter(col("kept") === 0L)
    assert(byReason.getOrElse("near_dup", 0L) == dropped.count())
    assert(dropped.count() > 0, "sf0.001 collapse drops docs to audit")
    // row sets, not just counts
    val provNear = prov.filter(col("reason") === "near_dup").select("doc_id")
    assert(provNear.except(dropped.select("doc_id")).count() == 0)
    // an exact-dup non-keeper that is LONG enough to shingle (≥3 words)
    // always has an identical lower-id equal-score twin in its near-dup
    // cluster and can never be the (score desc, id asc) argmax — so it
    // is also near_dup-dropped. Identical SHORT docs (< 3 words after
    // cleaning) are invisible to shingle LSH: the exact branch is
    // exactly what catches them, so they appear ONLY under exact_dup
    val provExact = prov.filter(col("reason") === "exact_dup").select("doc_id")
    val words = spark.read.parquet(s"$o/clean")
      .select(col("doc_id"), size(split(col("clean_text"), " ")).as("w"))
    val longExact = provExact.join(words.filter(col("w") >= 3), Seq("doc_id"))
      .select("doc_id")
    assert(longExact.except(provNear).count() == 0,
      "a shingle-able exact dup escaped the near-dup collapse")
    val shortExact = provExact.join(words.filter(col("w") < 3), Seq("doc_id"))
    assert(shortExact.count() > 0,
      "sf0.001 contains sub-shingle exact dups — the exact branch's unique catch")
    assert(sm.nFlagged == prov.count())
  }

  test("the shard layout packs every survivor with exact per-source prefix sums") {
    val (o, sm) = out
    val shards = spark.read.parquet(s"$o/shards")
    assert(shards.count() == sm.nKept)
    // q56 invariant: offsets tile the per-source token stream exactly
    val bad = shards.groupBy(col("source"))
      .agg(max(col("start_tok") + col("n_tok")).as("end"),
        sum(col("n_tok")).as("tot"))
      .filter(col("end") =!= col("tot"))
    assert(bad.count() == 0)
    assert(shards.filter(col("seq_off") >= 4096L || col("seq_off") < 0L)
      .count() == 0)
  }

  test("the token shards cover exactly the survivors and tile the shard layout") {
    val (o, sm) = out
    val toks = spark.read.parquet(s"$o/tokens")
    assert(toks.count() == sm.nTokens && sm.nTokens > 0)
    // every survivor contributes ≥1 token (each whitespace token emits
    // ≥1 subword — the <unk> guarantee), and nothing else does
    val keptIds = spark.read.parquet(s"$o/collapse")
      .filter(col("kept") === 1L).select(col("doc_id"))
    assert(toks.select("doc_id").distinct().count() == sm.nKept)
    assert(toks.join(keptIds, Seq("doc_id"), "left_anti").count() == 0)
    // shard addresses are a bijection onto the packed token stream:
    // (source, seq_id, pos_in_seq) unique, every non-final sequence
    // tiles to exactly the 4096 budget, positions in [0, 4096)
    assert(toks.select("source", "seq_id", "pos_in_seq").distinct().count()
      == sm.nTokens)
    assert(toks.filter(col("pos_in_seq") < 0L || col("pos_in_seq") >= 4096L)
      .count() == 0)
    val lastSeq = toks.groupBy(col("source"))
      .agg(max(col("seq_id")).as("last"))
    val short = toks.groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n"))
      .join(lastSeq, Seq("source"))
      .filter(col("seq_id") =!= col("last") && col("n") =!= 4096L)
    assert(short.count() == 0, "a non-final sequence is not budget-tiled")
    // token ids are a dense 0-based vocabulary
    val ids = toks.select(col("token_id")).distinct()
    val mx = ids.agg(max("token_id"), count(lit(1))).first()
    assert(mx.getLong(0) == mx.getLong(1) - 1)
    assert(toks.filter(col("token_id") < 0L).count() == 0)
  }

  test("the selection stage is the gated q161 cut over exactly the survivors") {
    val (o, sm) = out
    val sel = spark.read.parquet(s"$o/selection")
    assert(sel.count() == sm.nSelected && sm.nSelected > 0)
    // selection ⊆ kept survivors
    val keptIds = spark.read.parquet(s"$o/collapse")
      .filter(col("kept") === 1L).select(col("doc_id"))
    assert(sel.join(keptIds, Seq("doc_id"), "left_anti").count() == 0,
      "selection drew a document the collapse dropped")
    // per-source selected tokens never exceed the plan's quota
    val plan = spark.read.parquet(s"$o/mixture")
      .select(col("source"), col("target_tok"))
    val over = sel.groupBy(col("source"))
      .agg(sum(col("dl")).as("sel_tok"))
      .join(plan, Seq("source"))
      .filter(col("sel_tok") > col("target_tok"))
    assert(over.count() == 0, "a source's selection exceeded its quota")
    // bit-identical to re-running the shared helper on the kept frame
    val docs = Tables.load(spark, dir, "documents")
    val cleaned = spark.read.parquet(s"$o/clean")
      .join(docs.select(col("doc_id"), col("lang"), col("source")),
        Seq("doc_id"))
      .select(col("doc_id"), col("clean_text").as("text"), col("lang"),
        col("source"),
        length(col("clean_text")).cast("long").as("n_chars"))
    val kept = cleaned.join(keptIds, Seq("doc_id"))
    val direct = graft.operators.Curation.mixtureSelect(kept)
      .orderBy("doc_id").collect().toSeq
    assert(sel.orderBy("doc_id").collect().toSeq == direct,
      "selection stage diverged from the shared q161 helper")
  }

  test("the winnow audit is the shared q213 rule over exactly the shipped corpus") {
    val (o, sm) = out
    val kept = spark.read.parquet(s"$o/clean")
      .select(col("doc_id"), col("clean_text").as("text"))
      .join(spark.read.parquet(s"$o/collapse")
        .filter(col("kept") === 1L).select("doc_id"), Seq("doc_id"))
    val tag = s"curspec-w${System.nanoTime()}"
    val direct = Dedup.winnowPairsFrom(operators.Scratch.flush(spark,
        s"$tag-cap", Dedup.winnowCapped(operators.Scratch.flush(spark,
          s"$tag-fps", Dedup.winnowFingerprints(kept)))))
      .collect().map(_.toString).sorted.toSeq
    val staged = spark.read.parquet(s"$o/winnow_audit")
      .collect().map(_.toString).sorted.toSeq
    assert(staged == direct,
      "winnow audit stage diverged from the shared q213 helpers")
    assert(sm.nResidualPairs == staged.length.toLong)
    // splice + collapse must REDUCE residual local overlap vs raw: the
    // audit's pair count is strictly below the raw corpus's q213 count
    val raw = Dedup.qWinnowPairs.build(spark, dir).count()
    assert(sm.nResidualPairs < raw,
      s"curation left ${sm.nResidualPairs} residual pairs, raw had $raw")
  }
}
