package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Pins the SHAPE claims the scaladocs make, not just the values: the
  * "pure map, no shuffle" queries really compile to exchange-free plans,
  * and the sketch probes really broadcast their small side. A regression
  * that silently adds an exchange (e.g. a refactor that routes a kernel
  * through a groupBy) passes the value gates but breaks the 100 TB
  * story — this is the gate for that. AQE wraps multi-stage plans in
  * unexecuted query stages (the AnnPrunedSpec lesson), so assertions run
  * with adaptive disabled — the static plan properties don't depend on
  * it.
  */
class PlanShapeSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def withStaticPlans[A](f: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, old)
  }

  for ((name, q) <- Seq(
      "q28_textstats" -> TextAnalysis.qTextStats,
      "q80_quality_classifier" -> TextAnalysis.qQualityClassifier,
      "q82_cdc_chunking" -> TextAnalysis.qCdcChunking,
      "q47_sample_stratified" -> Corpus.qSampleStratified))
    test(s"$name is exchange-free (pure map at any scale)") {
      withStaticPlans {
        val ex = q.build(spark, dir).queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }
        assert(ex.isEmpty, s"$name gained ${ex.size} shuffle exchange(s)")
      }
    }

  for ((name, q) <- Seq(
      "q84_countmin" -> Corpus.qCountMin,
      "q85_bloom_decontaminate" -> Corpus.qBloomDecontaminate,
      "q46_decontaminate" -> Corpus.qDecontaminate))
    test(s"$name probes its small side via broadcast join") {
      withStaticPlans {
        val b = q.build(spark, dir).queryExecution.executedPlan.collect {
          case j: BroadcastHashJoinExec => j
        }
        assert(b.nonEmpty, s"$name lost its broadcast probe join")
      }
    }

  test("q124_edge_spans never explodes spans (two map-side hashes only)") {
    withStaticPlans {
      val gens = Dedup.qEdgeSpans.build(spark, dir)
        .queryExecution.executedPlan.collect {
          case g: org.apache.spark.sql.execution.GenerateExec => g
        }
      assert(gens.isEmpty,
        s"q124 gained ${gens.size} generator(s) — edge hashes must stay a projection")
    }
  }

  test("q126_chunk_dedup aggregates without any join") {
    withStaticPlans {
      val joins = TextAnalysis.qChunkDedup.build(spark, dir)
        .queryExecution.executedPlan.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }
      assert(joins.isEmpty, s"q126 gained ${joins.size} join(s)")
    }
  }

  test("q130_substring_remove pair evidence comes only from equi-joins") {
    withStaticPlans {
      val bad = Dedup.qSubstringRemove.build(spark, dir)
        .queryExecution.executedPlan.collect {
          case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        }
      assert(bad.isEmpty,
        s"q130 gained ${bad.size} non-equi join(s) — an all-pairs surface")
    }
  }

  test("q131_quality_collapse picks keepers by aggregation, never a corpus window") {
    withStaticPlans {
      val plan = Dedup.qQualityCollapse.build(spark, dir)
        .queryExecution.executedPlan
      val wins = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.isEmpty,
        s"q131 gained ${wins.size} window(s) — the keeper argmax must stay a max_by agg")
      val bad = plan.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }
      assert(bad.isEmpty, s"q131 gained ${bad.size} cartesian join(s)")
    }
  }

  test("q123_curriculum windows run over the histogram summary, never the corpus") {
    withStaticPlans {
      val wins = Curation.qCurriculum.build(spark, dir)
        .queryExecution.executedPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }
      assert(wins.nonEmpty, "q123 lost its cumulative-histogram windows")
      wins.foreach { w =>
        val aggsBelow = w.child.collect {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }
        assert(aggsBelow.nonEmpty,
          "a q123 window reads pre-aggregation rows — that is a corpus-scale window")
      }
    }
  }

  test("q144_source_sketch agreement pairs come only from the (j, mh) equi-join") {
    withStaticPlans {
      val plan = Dedup.qSourceSketch.build(spark, dir).queryExecution.executedPlan
      val bad = plan.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      assert(bad.isEmpty,
        s"source-pair generation must never be a source×source nested loop:\n$plan")
    }
  }

  test("q143_ann_serve broadcasts the probe frame and never nested-loops") {
    withStaticPlans {
      val plan = Retrieval.qAnnServe.build(spark, dir).queryExecution.executedPlan
      val bad = plan.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      assert(bad.isEmpty, s"serving must never nested-loop:\n$plan")
      val bcast = plan.collect { case j: BroadcastHashJoinExec => j }
      assert(bcast.nonEmpty,
        "the (query, cid) probe frame must reach the layout via broadcast hash join")
    }
  }

  test("q179_multiprobe_lsh: literal probe keys broadcast; the index side never shuffles below the probe join") {
    withStaticPlans {
      val plan = Similarity.qMultiprobeLsh.build(spark, dir)
        .queryExecution.executedPlan
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"multiprobe serving must never nested-loop:\n$plan")
      val probes = plan.collect { case j: BroadcastHashJoinExec => j }
      assert(probes.nonEmpty,
        "the 68-key probe frame must reach the index via broadcast hash join")
      // the store side of the probe join reads the bucketed index in
      // place — a shuffle under it means the bucketing stopped matching.
      // (streamedPlan is protected: identify it as the child without a
      // broadcast exchange in its subtree)
      probes.foreach { j =>
        val streamed = j.children.filter(c => c.collect {
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
        }.isEmpty)
        val shuffled = streamed.flatMap(_.collect {
          case e: ShuffleExchangeExec => e
        })
        assert(shuffled.isEmpty,
          s"the index side of the probe join gained a shuffle:\n$j")
      }
    }
  }

  test("q180_rerank_depth: every shortlist reaches the full vectors via broadcast; never cartesian") {
    withStaticPlans {
      val plan = ProductQuant.qRerankDepth.build(spark, dir)
        .queryExecution.executedPlan
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"rerank must never cartesian:\n$plan")
      val bcast = plan.collect { case j: BroadcastHashJoinExec => j }
      assert(bcast.size >= 4,
        s"each of the 4 depth branches must broadcast its <=k' shortlist (${bcast.size} found)")
    }
  }

  test("q155_bm25_serve_batch: request frames broadcast; only the 1-row stats join nested-loops") {
    withStaticPlans {
      val plan = Retrieval.qBm25ServeBatch.build(spark, dir)
        .queryExecution.executedPlan
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"batched serving must never cartesian:\n$plan")
      // the single-row (N, D) corpus-stats crossJoin is the ONE licensed
      // nested-loop (the repo's single-row-broadcast convention)
      val bnlj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      assert(bnlj.size <= 1,
        s"q155 gained ${bnlj.size} nested-loop joins (only the 1-row stats join is licensed)")
      val bcast = plan.collect { case j: BroadcastHashJoinExec => j }
      assert(bcast.size >= 2,
        "the query frame and the df row-set must reach the postings via broadcast hash joins")
    }
  }

  test("q156_importance_weights: weight table broadcasts back; no cartesian") {
    withStaticPlans {
      val plan = Curation.qImportanceWeights.build(spark, dir)
        .queryExecution.executedPlan
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"q156 must never cartesian:\n$plan")
      val bcast = plan.collect { case j: BroadcastHashJoinExec => j }
      assert(bcast.nonEmpty,
        "the bucket weight table must reach the (doc, bucket) counts via broadcast hash join")
    }
  }

  for ((name, q) <- Seq(
      "q160_budget_selection" -> Curation.qBudgetSelection,
      "q161_mixture_selection" -> Curation.qMixtureSelection))
    test(s"$name: bucket frames broadcast; windows never read pre-bucket corpus rows") {
      withStaticPlans {
        val plan = q.build(spark, dir).queryExecution.executedPlan
        assert(plan.collect {
          case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
        }.isEmpty, s"$name must never cartesian:\n$plan")
        // full-cell and boundary-cell frames reach the scored docs via
        // broadcast equi-joins (the selection side never shuffles for them)
        val bcast = plan.collect { case j: BroadcastHashJoinExec => j }
        assert(bcast.size >= 2,
          s"$name lost its broadcast cell joins (${bcast.size} found)")
        // every window sits above either the bounded bucket histogram
        // (an aggregate — possibly behind a ReusedExchange of it) or the
        // boundary-cell join (a broadcast join) — never above raw corpus
        // rows
        val wins = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }
        assert(wins.nonEmpty, s"$name lost its cumsum windows")
        wins.foreach { w =>
          val bounded = w.child.collect {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
            case j: BroadcastHashJoinExec => j
            case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
          }
          assert(bounded.nonEmpty,
            s"a $name window reads raw pre-bucket rows — that is a corpus-scale window")
        }
      }
    }

  // ---- materialize-once pins (round 14, q187+): the scaladocs claim the
  // expensive corpus pass runs ONCE through scratch and every returned-
  // plan branch reads the flushed copy — so the RETURNED plan must
  // contain ZERO scans of the raw table (build() itself pays the one
  // scan inside the flush action). A regression that drops the flush
  // re-appears here as a raw-table scan per branch.
  private def rawScans(q: graft.QuerySpec, table: String) = withStaticPlans {
    q.build(spark, dir).queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(table)) =>
        s
    }
  }

  for ((name, q, table) <- Seq(
      ("q189_market_basket", Relational.qMarketBasket, "lineitem"),
      ("q190_pareto_frontier", Curation.qParetoFrontier, "documents")))
    test(s"$name serves from its flushed frame — no raw $table scan in the returned plan") {
      val scans = rawScans(q, table)
      assert(scans.isEmpty,
        s"$name re-scans $table ${scans.size}x — the flush-once discipline regressed")
    }

  // r19 batch 3 un-flushed these (the parquet round trip measured
  // slower than shuffle-file reuse at sf0.1): the discipline is now
  // ONE raw-table scan shared across every plan branch via exchange
  // reuse — >1 means a branch's subtree signature diverged (the
  // denseDayGrid alignment regressed), 0 means a flush crept back in.
  for ((name, q, table) <- Seq(
      ("q187_concurrency", graft.operators.Temporal.qConcurrency, "events"),
      ("q191_mad_outliers", Profiling.qMadOutliers, "events"),
      ("q197_rolling_distinct", Profiling.qRollingDistinct, "events"),
      ("q192_cusum_changepoint",
        graft.operators.Temporal.qCusumChangepoint, "events"),
      ("q201_daily_autocorr",
        graft.operators.Temporal.qDailyAutocorr, "events"),
      ("q210_forecast_eval",
        graft.operators.Temporal.qForecastEval, "events"),
      ("q214_ewma_anomaly",
        graft.operators.Temporal.qEwmaAnomaly, "events"),
      ("q220_seasonal_strength",
        graft.operators.Temporal.qSeasonalStrength, "events")))
    test(s"$name shares ONE raw $table scan across all branches (exchange reuse)") {
      val scans = rawScans(q, table)
      assert(scans.size == 1,
        s"$name scans $table ${scans.size}x — expected exactly one " +
          "shared scan (un-flushed, exchange-reuse-aligned)")
    }

  test("q195_referential_audit scans lineitem exactly once for its three FK edges") {
    val scans = rawScans(Profiling.qReferentialAudit, "lineitem")
    assert(scans.size == 1,
      s"expected ONE lineitem pass covering all three edges, found ${scans.size}")
  }

  test("q184_rank_agreement left-joins the grid to its broadcast overlap rollup") {
    withStaticPlans {
      val plan = Retrieval.qRankAgreement.build(spark, dir)
        .queryExecution.executedPlan
      val outer = plan.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftOuter => j
      }
      assert(outer.size == 1 && outer.head.buildSide == BuildRight,
        s"expected one LeftOuter broadcast hash join building its right " +
          s"(rollup) side, got ${outer.map(j => (j.joinType, j.buildSide))}")
    }
  }
}
