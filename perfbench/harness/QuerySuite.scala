package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import graft.{CurationRun, QuerySpec, Queries}
import graft.operators._
import graft.sources._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.util.QueryExecutionListener

/** `query_suite`: a closed loop, one client, over the batch side and a
  * streaming store front door. The timed window runs:
  *  1. `CurationRun.run` into a fresh output dir, one op, its `Summary`
  *     checked against `expected/curation_run.tsv`;
  *  2. the [[StoreIngest]] leg through a store front door, one op per
  *     micro-batch round trip, its store checked after its last round;
  *  3. the fixed query set listed in `expected/query_suite.tsv`, in an
  *     order the seed permutes; one op is `build` + Catalyst planning +
  *     execution of one query, and execution computes the row count and
  *     an order-insensitive fingerprint of the output (the sum of the
  *     rows' xxhash64), checked against the set.
  * The two heavy ops come first, in a fixed order: an op that runs
  * earlier pays for compiling code it shares with later ones, so a
  * seeded order would move cost between them from seed to seed.
  *
  * Setup is what Bench does before its timed region: noop-sink and
  * parquet-reader warm-up, listing every table, and the layout calls the
  * set and CurationRun need. Each op runs once, timed from its first
  * call, so its cost includes generating its code, as a user's first
  * call does; an untimed pass would nearly double the run's length.
  *
  * Each op's cost is its CPU time (see [[Cpu]]). Wall times stay in the
  * op records and in the traced run.
  */
object QuerySuite {

  /** One op and its measured window, costed once the task events are in. */
  final case class Timed(op: Main.Op, fromMs: Long, toMs: Long, threadNs: Long)

  /** Runs `body` as one op; `body` returns what is wrong with its output.
    * Counts the CPU of the calling thread and of `threads`.
    */
  def measure(name: String, threads: Seq[Long] = Nil)(body: => Option[String]): Timed = {
    val ids = Cpu.currentThreadId +: threads
    val c0 = Cpu.threadsNs(ids)
    val e0 = System.currentTimeMillis()
    val s0 = Main.nowMs()
    val op = try {
      val wrong = body
      Main.Op(name, s0, Some(Main.nowMs()), wrong = wrong)
    } catch {
      case ex: Throwable => Main.Op(name, s0, None, error = Some(Main.errText(ex)))
    }
    Timed(op, e0, System.currentTimeMillis() + 1, Cpu.threadsNs(ids) - c0)
  }

  def failed(name: String, ex: Throwable): Timed =
    Timed(Main.Op(name, Main.nowMs(), None, error = Some(Main.errText(ex))), 0L, 0L, 0L)

  /** Bench's layout warm-up calls, in Bench's order. */
  val layoutCalls: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "Bucketed.prepare" -> ((s, d) => Bucketed.prepare(s, d)),
    "SignatureStore.ensure" -> ((s, d) => SignatureStore.ensure(s, d)),
    "WinnowStore.ensure" -> ((s, d) => WinnowStore.ensure(s, d)),
    "DupGraph.ensure" -> ((s, d) => DupGraph.ensure(s, d)),
    "CoGraph.ensure" -> ((s, d) => CoGraph.ensure(s, d)),
    "SemGraph.ensure" -> ((s, d) => SemGraph.ensure(s, d)),
    "SpanStore.ensure" -> ((s, d) => SpanStore.ensure(s, d)),
    "EmbeddingIndex.ensure" -> ((s, d) => EmbeddingIndex.ensure(s, d)),
    "IndexStore.ensure" -> ((s, d) => IndexStore.ensure(s, d)),
    "Similarity.ensureTrained" -> ((s, d) => Similarity.ensureTrained(s, d)),
    "Similarity.ensureClustered" -> ((s, d) => Similarity.ensureClustered(s, d)),
    "ProductQuant.ensureTrained" -> ((s, d) => ProductQuant.ensureTrained(s, d)),
    "ProductQuant.ensureCodes" -> ((s, d) => ProductQuant.ensureCodes(s, d)),
    "ScalarQuant.ensureBounds" -> ((s, d) => ScalarQuant.ensureBounds(s, d)),
    "ScalarQuant.ensureCodes" -> ((s, d) => ScalarQuant.ensureCodes(s, d)),
    "Corpus.ensureBpeMerges" -> ((s, d) => Corpus.ensureBpeMerges(s, d)))

  /** The operator modules reported on their own; every other module's
    * queries report under `other`.
    */
  val modules: Seq[(String, Seq[QuerySpec])] = Seq(
    "Corpus" -> Corpus.specs, "Curation" -> Curation.specs,
    "Dedup" -> Dedup.specs, "Graph" -> Graph.specs,
    "Multimodal" -> Multimodal.specs, "Profiling" -> Profiling.specs,
    "Relational" -> Relational.specs, "Retrieval" -> Retrieval.specs,
    "Similarity" -> Similarity.specs, "Temporal" -> Temporal.specs,
    "TextAnalysis" -> TextAnalysis.specs)

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, specs) if specs.exists(_.name == name) => m }
      .getOrElse("other")

  /** One expected-set row: the query, the layout calls it needs, and its
    * output's row count and fingerprint.
    */
  final case class Expected(name: String, layouts: Seq[String], rows: Long,
      fingerprint: String)

  private def dataLines(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map(_.split("\t"))

  def readExpected(path: String): Seq[Expected] =
    dataLines(path).map { f =>
      Expected(f(0), f(1).split(",").filter(_.nonEmpty).toSeq, f(2).toLong, f(3))
    }

  /** Row count and order-insensitive fingerprint of `df`, as one plan. */
  def fingerprint(df: DataFrame): DataFrame = {
    val cols = df.columns.map(c => col(s"`$c`"))
    df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
  }

  /** A `CurationRun.Summary` by the names `CurationRun.main` prints. */
  def summaryFields(s: CurationRun.Summary): Seq[(String, Long)] = Seq(
    "n_docs" -> s.nDocs, "tokens_removed" -> s.tokensRemoved,
    "n_kept" -> s.nKept, "n_sources" -> s.nSources, "n_flagged" -> s.nFlagged,
    "n_selected" -> s.nSelected, "n_tokens" -> s.nTokens,
    "n_residual_pairs" -> s.nResidualPairs)

  /** CurationRun's stages, named after their output dirs. */
  val curationStages: Seq[String] = Seq("clean", "collapse", "mixture", "shards",
    "tokens", "selection", "winnow_audit", "provenance", "scorecard")

  /** Wall ms of every parquet write by its output dir's name. */
  final class WriteTimes extends QueryExecutionListener {
    val ms = TrieMap.empty[String, List[Double]]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName }
        .foreach { n => ms.put(n, durationNs / 1e6 :: ms.getOrElse(n, Nil)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def run(spark: SparkSession, a: Main.Args, trace: Trace,
      heap: HeapWatch): Main.Result = {
    val sf = s"${a.data}/tables"
    val expected = readExpected(s"${a.data}/expected/query_suite.tsv")
    val curationWant = dataLines(s"${a.data}/expected/curation_run.tsv")
      .map(f => f(0) -> f(1).toLong)
    val specs = Queries.all.map(q => q.name -> q).toMap
    val missing = expected.map(_.name).filterNot(specs.contains)
    require(missing.isEmpty, s"expected set names unknown queries: $missing")
    val rnd = new scala.util.Random(a.seed)

    // one op: build, plan, execute; checks rows and fingerprint
    def query(e: Expected): Timed = measure(e.name) {
      val q = specs(e.name)
      val df = trace.layer("build", s"build:${q.name}")(q.build(spark, sf))
      val fp = fingerprint(df)
      trace.layer("plan", s"plan:${q.name}")(fp.queryExecution.executedPlan)
      val r = trace.layer("exec", s"exec:${q.name}")(fp.collect().head)
      val (rows, got) = (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("null"))
      if (rows == e.rows && got == e.fingerprint) None
      else Some(s"rows=$rows fingerprint=$got, expected rows=${e.rows} fingerprint=${e.fingerprint}")
    }

    def curation(): Timed = measure("curation_run") {
      val got = summaryFields(trace.layer("curation", "curation.run")(
        CurationRun.run(spark, sf, s"${a.tmp}/curation")))
      if (got == curationWant) None
      else Some(s"summary ${got.mkString(",")}, expected ${curationWant.mkString(",")}")
    }

    val ran = collection.mutable.ArrayBuffer.empty[StoreIngest.Ran]
    def ingest(): Seq[Timed] =
      try {
        val (ops, r) = StoreIngest.run(spark, StoreIngest.events(spark, sf),
          s"pb_${StoreIngest.Name}",
          s"${a.tmp}/ckpt/${StoreIngest.Name}", rnd, trace)
        ran += r
        ops
      } catch {
        case ex: Throwable =>
          (0 until StoreIngest.Rounds).map(i => failed(s"${StoreIngest.Name}#$i", ex))
      }

    val setup0 = Main.nowMs()
    trace.span("setup") {
      trace.layer("setup", "setup.warmup") {
        spark.range(1000).selectExpr("sum(id) as s")
          .write.format("noop").mode("overwrite").save()
        graft.Tables.load(spark, sf, "region")
          .write.format("noop").mode("overwrite").save()
        graft.Tables.names.foreach(t => graft.Tables.load(spark, sf, t).schema)
      }
      // CurationRun trains its tokenizer through this layout call
      val needed = expected.flatMap(_.layouts).toSet + "Corpus.ensureBpeMerges"
      layoutCalls.foreach { case (call, f) =>
        if (needed.contains(call)) {
          val t0 = Main.nowMs()
          trace.layer("setup", s"setup.$call")(f(spark, sf))
          trace.layers(s"setup.$call.s") = (Main.nowMs() - t0) / 1000
        } else trace.layers(s"setup.$call.s") = 0.0
      }
    }
    heap.sample()
    val setupS = (Main.nowMs() - setup0) / 1000

    // the per-layer counters cover the timed window only
    trace.settle()
    Seq("build", "plan", "exec", "curation").foreach(trace.work.remove)
    trace.jobsBySpan.clear()
    val writes = new WriteTimes
    if (trace.enabled) spark.listenerManager.register(writes)

    val cpu = new TaskCpu
    spark.sparkContext.addSparkListener(cpu)
    val t0 = Main.nowMs()
    val timed = Seq(curation()) ++ ingest() ++ rnd.shuffle(expected).map(query)
    val windowS = (Main.nowMs() - t0) / 1000
    cpu.settle()
    spark.sparkContext.removeSparkListener(cpu)
    val costed = timed.map { t =>
      t.op.copy(costMs = t.op.done.map(_ => (t.threadNs + cpu.ns(t.fromMs, t.toMs)) / 1e6))
    }
    heap.sample()

    if (trace.enabled) {
      putLayers(trace, a, costed.filter(o => specs.contains(o.name)), t0)
      putCuration(trace, a, writes, t0)
      spark.listenerManager.unregister(writes)
      putIngest(trace, ran.toSeq)
    }
    val cost = costed.flatMap(_.costMs)
    Main.Result(costed, cost.size.toDouble, cost.sum / 1000, setupS,
      Map("window_s" -> windowS))
  }

  /** Per-layer numbers of the queries (their ops). */
  private def putLayers(trace: Trace, a: Main.Args, queries: Seq[Main.Op], t0: Double): Unit = {
    trace.layers("suite.wall_ms_p50") = queries.flatMap(o => o.done.map(_ - o.sched))
    trace.settle()
    val b = trace.workOf("build")
    trace.layers("build.s") = trace.spansAfter("build:", t0).sum / 1000
    trace.layers("build.jobs") = b.jobs.get.toDouble
    trace.layers("build.queries_with_jobs") = trace.jobsBySpan
      .count { case (span, n) => span.startsWith("build:") && n.get > 0 }.toDouble
    trace.layers("build.output_bytes") = b.outputBytes.get.toDouble
    trace.layers("plan.s") = trace.spansAfter("plan:", t0).sum / 1000
    val execS = trace.spansAfter("exec:", t0).sum / 1000
    trace.putWork("exec", trace.workOf("exec"), execS, a.cores,
      Seq("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
        "gc_s", "core_util", "input_bytes", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes"))
    trace.layers("exec.s") = execS
    val moduleS = queries.groupBy(o => moduleOf(o.name))
      .map { case (m, os) => m -> os.flatMap(o => o.done.map(_ - o.sched)).sum / 1000 }
    (modules.map(_._1) :+ "other").foreach { m =>
      trace.layers(s"$m.s") = moduleS.getOrElse(m, 0.0)
    }
  }

  /** Per-layer numbers of CurationRun: each stage's write, and the rest
    * of the wall time (connected components, flushes, counts).
    */
  private def putCuration(trace: Trace, a: Main.Args, writes: WriteTimes, t0: Double): Unit = {
    // write events arrive on the listener bus after the write returns
    val deadline = System.currentTimeMillis() + 5000
    while (!curationStages.forall(writes.ms.contains) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    val wallS = trace.spansAfter("curation.run", t0).sum / 1000
    val stageS = curationStages.map(s => s -> writes.ms.getOrElse(s, Nil).sum / 1000)
    stageS.foreach { case (s, v) => trace.layers(s"curation.$s.s") = v }
    trace.layers("curation.s") = wallS
    trace.layers("curation.between_s") = wallS - stageS.map(_._2).sum
    trace.putWork("curation", trace.workOf("curation"), wallS, a.cores,
      Seq("jobs", "executor_cpu_s", "core_util", "shuffle_write_bytes",
        "output_bytes", "spill_bytes"))
  }

  /** Per-layer numbers of the front door: trigger times from the
    * progress events, with the compacting triggers apart, jobs per
    * trigger and the store's files at the end of the leg.
    */
  private def putIngest(trace: Trace, ran: Seq[StoreIngest.Ran]): Unit = {
    val ps = ran.flatMap(r => Option(trace.progress.get(r.queryId.toString)).flatten
      .map(_.asScala.toSeq).getOrElse(Nil).filter(_.numInputRows > 0))
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    val compacts = ps.filter(p => p.batchId > 0 && p.batchId % StoreIngest.CompactEvery == 0)
    val l = StoreIngest.Name
    trace.layers(s"$l.trigger_ms_p50") = ps.filterNot(compacts.contains).map(ms)
    trace.layers(s"$l.compact_trigger_ms_p50") = compacts.map(ms)
    trace.layers(s"$l.jobs_per_trigger") =
      if (ps.isEmpty) 0.0
      else ran.map(r => trace.workOf(trace.queryKey(r.queryId)).jobs.get).sum.toDouble / ps.size
    trace.layers(s"$l.store_files_end") = ran.map(_.storeFiles.toDouble)
  }
}
