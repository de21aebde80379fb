package graft

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Suite-wide plan lint — automates what PlanAudit leaves to the eye:
  * every gated query's physical plan is built at sf0.001 and asserted
  * free of the two shapes that do not survive a 100× scale-up unless
  * both sides are bounded:
  *
  *  - `CartesianProductExec` (a non-broadcast cross join) is banned
  *    outright — no gated query may ever compile to one;
  *  - `BroadcastNestedLoopJoinExec` is allowed ONLY for the documented
  *    whitelist (single-row corpus totals / bounded-summary grids
  *    cross-joined under an explicit `broadcast()` — the q83-style
  *    shapes the round-14 audit spot-checked), pinned per query name so
  *    a NEW unintended BNLJ anywhere in the suite fails this spec.
  *
  * A third check listens to Spark's hint-error logger while every gated
  * query is planned: Spark drops a hint it cannot honor (a broadcast of
  * the preserved side of an outer join, say) with only a warning, so the
  * plan that runs is not the one the code asks for.
  *
  * AQE is disabled for the build (the AnnPrunedSpec discipline: AQE
  * wraps the tree in unexecuted query stages and hides exec nodes from
  * `collect`; the static shapes asserted here don't depend on it), and
  * subquery plans are traversed too.
  */
class PlanLintSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  /** Queries whose plan legitimately carries BNLJs, with the EXACT
    * count pinned: every entry is a `crossJoin(broadcast(...))` of a
    * SINGLE-ROW aggregate (corpus total, global histogram row) or a
    * bounded literal/summary grid — never data×data (the round-14 audit
    * spot-checked each). A new BNLJ inside a whitelisted query bumps
    * its count and fails here too. Additions require the same
    * justification in the query's scaladoc.
    */
  private val bnljWhitelist: Map[String, Int] = Map(
    "q61_mixture_sample" -> 1, "q74_pq_recall" -> 4,
    "q83_collocations" -> 1, "q93_bm25_topk" -> 1,
    "q94_sq8_recall" -> 1, "q97_join_cardinality" -> 1,
    "q104_quantile_sketch" -> 1, "q115_source_drift" -> 2,
    "q119_dup_mass" -> 1, "q128_ingestion_drift" -> 1,
    "q132_mixture_planner" -> 1, "q133_hybrid_rrf" -> 1,
    "q139_dataset_card" -> 1, "q145_vocab_growth" -> 2,
    "q148_curation_impact" -> 2, "q149_wasserstein_drift" -> 2,
    "q150_length_matched_sample" -> 4, "q154_bm25_index" -> 2,
    "q155_bm25_serve_batch" -> 1, "q156_importance_weights" -> 1,
    // q160/q161/q165 dropped one BNLJ each in r18: the scored frame is
    // scratch-flushed, so the single-row extent broadcast is no longer
    // duplicated into every union branch
    "q160_budget_selection" -> 3, "q161_mixture_selection" -> 4,
    "q165_selection_shift" -> 4, "q172_cluster_labels" -> 1,
    "q173_hybrid_serve_batch" -> 1, "q175_t_closeness" -> 1,
    // q184 dropped its BNLJ in r19: the serve frames are scratch-
    // flushed once, so the fused arm no longer re-embeds q173's plan
    "q182_burstiness" -> 1,
    "q185_rfm_segments" -> 3, "q186_layout_parity" -> 3,
    "q189_market_basket" -> 1, "q192_cusum_changepoint" -> 2,
    "q197_rolling_distinct" -> 1, "q201_daily_autocorr" -> 5,
    "q210_forecast_eval" -> 1, "q211_token_collisions" -> 1,
    "q212_source_bias" -> 1, "q214_ewma_anomaly" -> 1,
    "q217_lpa_modularity" -> 1,
    // r19 un-flush: the calendar-bounded denseDayGrid cross (day side
    // broadcast, rows = distinct days — time-bounded, not corpus-
    // bounded) is now visible once per grid-consuming agg branch
    "q220_seasonal_strength" -> 2,
    // one-row corpus total broadcast onto the 8-row τ grid
    "q230_semdedup_yield" -> 1)

  test("no cartesian product anywhere; BNLJ only on the documented whitelist") {
    assume(new java.io.File(dir).exists(), s"$dir not present")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val carts = Seq.newBuilder[String]
      val bnljs = Seq.newBuilder[String]
      Queries.all.foreach { q =>
        val plan = q.build(spark, dir).queryExecution.executedPlan
        val nCart = plan.collectWithSubqueries {
          case c: CartesianProductExec => c }.size
        val nBnlj = plan.collectWithSubqueries {
          case b: BroadcastNestedLoopJoinExec => b }.size
        if (nCart > 0) carts += s"${q.name}($nCart)"
        if (nBnlj != bnljWhitelist.getOrElse(q.name, 0))
          bnljs += s"${q.name}($nBnlj, whitelisted " +
            s"${bnljWhitelist.getOrElse(q.name, 0)})"
      }
      assert(carts.result().isEmpty,
        s"cartesian products: ${carts.result().mkString(", ")}")
      assert(bnljs.result().isEmpty,
        s"unwhitelisted BroadcastNestedLoopJoin: ${bnljs.result().mkString(", ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** Queries whose plan legitimately carries UNPARTITIONED windows
    * (`WindowExec` with an empty partition spec — a single-partition
    * collapse if the input is corpus-scale), with the EXACT count
    * pinned. Every entry's window input is BOUNDED independent of
    * corpus size: an aggregate output (histogram buckets, per-source /
    * per-day rollups, summary grids), a top-k/limit result, or a
    * vocabulary-sized frame (BPE vocab ids) — the round-18 verdict's
    * item 4 audit. A new global window anywhere else in the suite (the
    * silent 100 TB single-partition collapse) fails this spec; adding
    * an entry requires the same boundedness justification in the
    * query's scaladoc.
    */
  private val globalWindowWhitelist: Map[String, Int] = Map(
    // request-sized candidate set of one probe query
    "q179_multiprobe_lsh" -> 1,
    // per-word-count histograms (rows ≤ longest doc's word count — a
    // document property, not corpus cardinality)
    "q149_wasserstein_drift" -> 1, "q123_curriculum" -> 2,
    "q177_padding_waste" -> 1, "q127_seqlen_histogram" -> 2,
    // fixed-width bucket/grid histograms (≤64 log2 buckets, value
    // grids, hourly buckets, lag histogram, path alphabet³, quality
    // grid ≤1000, price buckets)
    "q145_vocab_growth" -> 1, "q142_pad_plan" -> 1,
    "q104_quantile_sketch" -> 1, "q187_concurrency" -> 1,
    "q199_session_paths" -> 1, "q200_conversion_lag" -> 2,
    "q190_pareto_frontier" -> 1,
    // BPE vocab ids (vocabulary-sized, corpus-independent)
    "q203_token_shards" -> 1,
    // two top-k (LIMIT-bounded) serving result rankings
    "q133_hybrid_rrf" -> 2,
    // BudgetBuckets-sized cut histogram ×2 + the boundary-bucket
    // residual pick — the latter orders docs of ONE bucket of a
    // B-bucket grid (quota-bounded at corpus/B; the exact budget-cut
    // semantics need that total order)
    "q160_budget_selection" -> 3, "q165_selection_shift" -> 3)

  test("unpartitioned windows only above bounded (aggregate/limit/vocab) frames") {
    assume(new java.io.File(dir).exists(), s"$dir not present")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bad = Seq.newBuilder[String]
      Queries.all.foreach { q =>
        val plan = q.build(spark, dir).queryExecution.executedPlan
        val nGlobal = plan.collectWithSubqueries {
          case w: WindowExec if w.partitionSpec.isEmpty => w }.size
        if (nGlobal != globalWindowWhitelist.getOrElse(q.name, 0))
          bad += s"${q.name}($nGlobal, whitelisted " +
            s"${globalWindowWhitelist.getOrElse(q.name, 0)})"
      }
      assert(bad.result().isEmpty,
        s"unwhitelisted global windows: ${bad.result().mkString(", ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("no gated query carries a hint Spark drops") {
    assume(new java.io.File(dir).exists(), s"$dir not present")
    val name = "org.apache.spark.sql.catalyst.analysis.HintErrorLogger"
    val logger = LogManager.getLogger(name).asInstanceOf[CoreLogger]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("plan-lint-hints", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    val level = logger.getLevel
    // the session logs at ERROR; the hint errors are WARN lines
    Configurator.setLevel(name, Level.WARN)
    logger.addAppender(appender)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dropped = Queries.all.flatMap { q =>
        lines.clear()
        q.build(spark, dir).queryExecution.executedPlan
        lines.asScala.filter(_.contains("is not supported"))
          .map(l => s"${q.name}: $l")
      }
      assert(dropped.isEmpty, s"dropped hints:\n${dropped.mkString("\n")}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      logger.removeAppender(appender)
      Configurator.setLevel(name, level)
      appender.stop()
    }
  }
}
