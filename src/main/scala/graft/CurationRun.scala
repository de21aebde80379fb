package graft

import graft.operators.{Corpus, Curation, Dedup, Scratch}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end batch curation artifact a data engineer actually
  * ships — the composition the gated queries certify piecewise, run as
  * ONE job over a corpus directory:
  *
  *   1. `clean/`     — q130 substring-removal rewrite (shared extents
  *                     ≥ [[Dedup.MinRemoveWords]] words spliced out of
  *                     every doc but the lowest-id holder);
  *   2. `collapse/`  — near-dup graph REBUILT over the cleaned corpus
  *                     (q23 pairs → q50 connected components) and
  *                     collapsed per q131's quality-keeper rule;
  *   3. `mixture/`   — q132 temperature-weighted mixture plan over the
  *                     surviving documents;
  *   4. `shards/`    — q56 two-level sequence packing of the survivors;
  *   4c. `tokens/`   — q203 token-id shard materialization: the trained
  *                     BPE merges applied to every survivor, vocabulary
  *                     ids packed into the 4096-budget layout — the
  *                     tensor-ready artifact a training loader reads;
  *   4b. `selection/` — q161 mixture-constrained importance selection
  *                     over the survivors (which kept docs a
  *                     target-domain-matched run would draw, per the
  *                     plan's quotas — advisory; shards pack ALL
  *                     survivors);
  *   5b. `winnow_audit/` — q213's MOSS pair rule over the SHIPPED
  *                     corpus: residual local overlaps that survived
  *                     splice + collapse (set-level near-dups are
  *                     collapsed, ≥-threshold spans are spliced — what
  *                     remains is sub-splice shared runs, the mass the
  *                     next crawl's dedup-on-ingest must watch);
  *   5. `provenance/` — the q146 audit frame for THIS run's decisions:
  *                     one (doc_id, reason) row per exact_dup /
  *                     near_dup / substring_spliced verdict, derived
  *                     from the run's own clean/collapse outputs (the
  *                     "why is my document gone/changed" answer);
  *   6. `scorecard/` — q87 per-source scorecard of the shipped corpus,
  *                     written LAST (the run's health report).
  *
  * Every stage is the SAME code path its gated query runs
  * ([[Dedup.substringRemove]], [[Dedup.verifiedPairs]],
  * [[Dedup.qualityCollapse]], [[Corpus.mixturePlan]],
  * [[Corpus.sequencePack]], [[Corpus.tokenShards]],
  * [[Curation.mixtureSelect]],
  * [[Curation.sourceScorecard]]) — the
  * pipeline cannot drift from the certified operators
  * (CurationRunSpec pins each stage's output against them).
  *
  * Scale shape: each stage WRITES its parquet and downstream stages
  * read the materialized result — the span/LSH pipelines run exactly
  * once (the per-branch re-execution discipline: an unmaterialized
  * `cleaned` would re-run the q130 splice under every one of the four
  * consumers). The verified pairs are flushed before connected
  * components, which executes its edges on every pass, so the MinHash →
  * band join → Jaccard pipeline runs once too. Every re-read of an
  * output carries the schema of the frame written there (no inference
  * job), and the [[Summary]] counts are observed on the stage writes
  * themselves, so no output is read back to be counted. At 100 TB each
  * `outDir` table is a warehouse table and the stages are independent
  * jobs sharing it.
  *
  *   sbt "runMain graft.CurationRun /root/testdata/sf0.01 /tmp/curation"
  */
object CurationRun {

  final case class Summary(
      nDocs: Long, tokensRemoved: Long, nKept: Long, nSources: Long,
      nFlagged: Long, nSelected: Long, nTokens: Long,
      nResidualPairs: Long)

  // per-JVM run nonce: CC scratch generations flush under this tag, and
  // two runs in one JVM (spec + reuse) must never share one
  private val runSeq = new java.util.concurrent.atomic.AtomicInteger

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** [[write]], returning the rows written (`n`) and any further
    * `metrics`, observed on the write itself.
    */
  private def counted(df: DataFrame, path: String,
      metrics: Column*): Map[String, Any] = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("n"), metrics: _*), path)
    obs.get
  }

  private def n(m: Map[String, Any]): Long = m("n").asInstanceOf[Long]

  def run(spark: SparkSession, inDir: String, outDir: String): Summary = {
    val tag =
      s"curationrun-d${Scratch.dirHash(inDir)}-r${runSeq.incrementAndGet()}"
    // the run's flushes carry its nonce, so no later flush replaces them
    try stages(spark, inDir, outDir, tag)
    finally Seq(s"cc-$tag", s"$tag-pairs", s"$tag-tokens", s"$tag-scq")
      .foreach(Scratch.release)
  }

  private def stages(spark: SparkSession, inDir: String, outDir: String,
      tag: String): Summary = {
    val docs = Tables.load(spark, inDir, "documents")

    // 1. clean — the q130 rewrite, materialized before anything reads it
    val cleanDf = Dedup.substringRemove(docs, Dedup.MinRemoveWords)
    val acct = counted(cleanDf, s"$outDir/clean",
      sum(col("n_removed")).as("removed"))
    val clean = spark.read.schema(cleanDf.schema).parquet(s"$outDir/clean")
    val cleaned = clean
      .join(docs.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("clean_text").as("text"), col("lang"),
        col("source"), length(col("clean_text")).cast("long").as("n_chars"))

    // 2. collapse — fresh pairs/labels over the CLEANED text (cleaning
    // changes shingles, so the pre-clean DupGraph store would be stale).
    // The pairs are flushed first, as DupGraph.edges does: CC executes
    // its edges on every pass, and the LSH pipeline must run once
    val p = Scratch.flush(spark, s"$tag-pairs", Dedup.verifiedPairs(cleaned)
      .select(col("doc_id_1"), col("doc_id_2")))
    val edges = p.union(p.select(col("doc_id_2"), col("doc_id_1")))
      .toDF("u", "v")
    val (labels, _) =
      Dedup.connectedComponents(spark, edges, scratchTag = tag)
    val collapseDf = Dedup.qualityCollapse(cleaned, labels)
    write(collapseDf, s"$outDir/collapse")
    val collapse =
      spark.read.schema(collapseDf.schema).parquet(s"$outDir/collapse")
    val kept = cleaned.join(
      collapse.filter(col("kept") === 1L).select(col("doc_id")),
      Seq("doc_id"))

    // 3.–4. the mixture plan and the training layout, over the survivors
    write(Corpus.mixturePlan(kept), s"$outDir/mixture")
    val nKept = n(counted(Corpus.sequencePack(kept), s"$outDir/shards"))

    // 4c. tokens — the q203 token-id shard materialization over the
    // survivors: the trained tokenizer (a LAYOUT, trained once on the
    // input corpus) applied to every shipped doc, ids packed into the
    // same 4096 budget the shards stage lays out — the tensor-ready
    // artifact a training loader reads (q56/q140 only plan it)
    val nTokens = n(counted(Corpus.tokenShards(spark, kept,
      Corpus.ensureBpeMerges(spark, inDir), 4096L, s"$tag-tokens"),
      s"$outDir/tokens"))

    // 4b. selection — the q161 mixture-constrained cut over the
    // survivors: which kept docs a target-domain-matched training run
    // would actually draw, per the plan's token quotas (advisory
    // artifact; the shard layout above packs ALL survivors)
    val nSelected = n(counted(
      Curation.mixtureSelect(kept, Some((spark, s"$tag-scq"))),
      s"$outDir/selection"))

    // 5b. winnow audit — residual local overlap among SHIPPED docs
    // (the q213 rule through the SAME shared helpers): what splice +
    // collapse left behind for the next ingest cycle to watch
    // r19: the two Scratch flushes (wfps + wcap) replaced by the one
    // shared fp repartition — the gated q213/q218/q225 form
    val nResidualPairs = n(counted(
      Dedup.winnowPairsFrom(Dedup.winnowCapped(Dedup.sharedFps(kept))),
      s"$outDir/winnow_audit"))

    // 5. provenance — the q146 audit frame over THIS run's decisions
    // (the gated q146 runs the same union over the raw corpus; here the
    // exact-hash branch runs on the CLEANED text, which is what collapse
    // actually compared)
    val hashes = cleaned
      .select(col("doc_id"), graft.functions.PolyHash(col("text")).as("h"))
    val exact = hashes.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .join(hashes, "h")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), lit("exact_dup").as("reason"))
    val near = collapse
      .filter(col("kept") === 0L)
      .select(col("doc_id"), lit("near_dup").as("reason"))
    val spliced = clean
      .filter(col("n_removed") > 0)
      .select(col("doc_id"), lit("substring_spliced").as("reason"))
    val nFlagged = n(counted(exact.unionByName(near).unionByName(spliced),
      s"$outDir/provenance"))

    // 6. the health report of what actually shipped, last
    val nSources =
      n(counted(Curation.sourceScorecard(kept), s"$outDir/scorecard"))

    Summary(
      nDocs = n(acct),
      tokensRemoved = acct("removed").asInstanceOf[Long],
      nKept = nKept, nSources = nSources, nFlagged = nFlagged,
      nSelected = nSelected, nTokens = nTokens,
      nResidualPairs = nResidualPairs)
  }

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.quietWindowWarnings()
    val t0 = System.nanoTime()
    val sm = run(spark, inDir, outDir)
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"n_docs":${sm.nDocs},"tokens_removed":${sm.tokensRemoved},""" +
      s""""n_kept":${sm.nKept},"n_sources":${sm.nSources},""" +
      s""""n_flagged":${sm.nFlagged},"n_selected":${sm.nSelected},""" +
      s""""n_tokens":${sm.nTokens},""" +
      s""""n_residual_pairs":${sm.nResidualPairs},""" +
      f""""sec":$sec%.3f}""")
    spark.stop()
  }
}
