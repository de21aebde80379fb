package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.{Exact, PolyHash, ProbeCentroids}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Serving-side retrieval composition over layouts the engine already
  * maintains: reciprocal-rank fusion of the lexical (q93 BM25 over the
  * q89 posting-list statistics) and dense (q26c clustered-IVF) top-k
  * lists, and SemDeDup-style semantic dedup bounded by the trained
  * clusters. Both are the operators a retrieval/curation stack runs
  * directly on top of the BM25 statistics pass and the
  * clustered-at-rest ANN layout — no new scans, no new layouts.
  */
object Retrieval {

  /** Standard RRF smoothing constant (Cormack et al. 2009's k=60). */
  private[graft] val RrfK = 60

  /** lcm(61..70) — every fused rank contributes `RrfScale/(RrfK+rank)`
    * as an EXACT BIGINT (ranks are ≤ 10 per list), so the fusion score
    * is pure integer arithmetic: RRF is rational, and clearing the
    * common denominator makes it log-free and bit-exact on both
    * engines (the q93 rational-IDF discipline applied to rank fusion).
    */
  private[graft] val RrfScale = 142813628717760L

  /** q133 — hybrid retrieval fusion: reciprocal-rank fusion of the
    * lexical BM25 top-10 (q93) and the dense clustered-ANN top-10
    * (q26c) for the same served request — the serving-side operator
    * every hybrid retrieval stack runs over exactly these two layouts
    * (posting-list stats + clustered vectors). Output: the fused
    * top-10 with each side's rank (NULL when the doc appears in only
    * one list) and the scaled integer RRF score.
    *
    * Scale shape: both inputs are existing TakeOrdered(10) plans (q93:
    * one map-side corpus pass + a broadcast one-row stats join; q26c:
    * a partition-pruned nprobe scan); ranking each is a window over 10
    * rows, and the fusion is a full-outer join of two ≤10-row frames —
    * the whole operator adds O(k) work on top of the two retrievals
    * regardless of corpus size.
    */
  val qHybridRrf: QuerySpec = QuerySpec(
    "q133_hybrid_rrf",
    (s, dir) => {
      val lex = Corpus.qBm25TopK.build(s, dir)
        .withColumn("lex_rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
            .cast("long"))
        .select(col("doc_id"), col("lex_rank"))
      val dense = Similarity.qAnnPruned.build(s, dir)
        .withColumn("dense_rank",
          row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id")))
            .cast("long"))
        .select(col("vec_id").as("doc_id"), col("dense_rank"))
      lex.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
          (coalesce(expr(s"$RrfScale div ($RrfK + lex_rank)"), lit(0L)) +
            coalesce(expr(s"$RrfScale div ($RrfK + dense_rank)"), lit(0L)))
            .as("rrf_scaled"))
        .orderBy(col("rrf_scaled").desc, col("doc_id"))
        .limit(10)
    },
    Some(s"""WITH ${Corpus.bm25SqlCtes},
            | lextop AS (SELECT doc_id, ${Corpus.bm25ScoreSql} AS score
            |  FROM pd, st WHERE ${Corpus.bm25AnyTfSql} > 0
            |  ORDER BY score DESC, doc_id LIMIT 10),
            | lex AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
            |   ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
            |  FROM lextop),
            | ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | ${Similarity.annQuerySqlCtes},
            | dentop AS (${Similarity.annTopSql}),
            | den AS (SELECT vec_id AS doc_id, CAST(ROW_NUMBER() OVER (
            |   ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS dense_rank
            |  FROM dentop)
            | SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id,
            |  lex.lex_rank AS lex_rank, den.dense_rank AS dense_rank,
            |  CAST(COALESCE($RrfScale // ($RrfK + lex.lex_rank), 0)
            |   + COALESCE($RrfScale // ($RrfK + den.dense_rank), 0)
            |   AS BIGINT) AS rrf_scaled
            | FROM lex FULL JOIN den ON lex.doc_id = den.doc_id
            | ORDER BY rrf_scaled DESC, doc_id LIMIT 10""".stripMargin
      .replaceAll("\n", "")))

  /** Cosine threshold for a "tight" semantic group — the q25 near-dup
    * convention carried to the cluster-bounded pass.
    */
  private[graft] val SemTau = 0.3

  /** q134 — semantic dedup, SemDeDup-shaped (public technique: Abbas
    * et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): within each TRAINED IVF cluster
    * (q26b's codebook, q26c's clustered-at-rest layout), a document is
    * marked removed iff a LOWER-id member of the same cluster sits at
    * cosine ≥ τ — the paper's greedy keep-first-by-index rule, with
    * `exemplar_id` = the lowest such neighbor (itself when kept).
    * Output: every vector with its cluster, exemplar, and survivor
    * flag — `filter(kept = 1)` is the semantically deduplicated
    * corpus. This is the embedding-space dedup class that pairwise
    * sign-LSH (q25) approximates, but cluster-bounded: candidates come
    * ONLY from the cid equi-join of the clustered layout — never
    * cross-cluster, never all-pairs.
    *
    * Scale shape: the self-join keys on cid alone, so candidate volume
    * is Σ_c C(n_c, 2) — bounded by the cluster granularity knob K
    * (SemDeDup's own scaling lever: K grows with the corpus to hold
    * n_c ≈ const, which keeps the join linear-ish; RetrievalFusionSpec
    * pins the volume identity and the no-cartesian plan shape). The
    * cosine verify is the codegen'd integer kernel, the exemplar
    * reduction is a map-side-combinable MIN per vec_id, and the final
    * left join is vec_id-keyed.
    */
  val qSemDedup: QuerySpec = QuerySpec(
    "q134_semantic_dedup",
    (s, dir) => {
      Similarity.ensureTrained(s, dir)
      val v = s.table(Similarity.ensureClustered(s, dir))
      val exemplars = v.alias("a")
        .join(v.alias("b"),
          col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .filter(
          Exact.cosineFromQuantized(col("a.qe"), col("b.qe")) >= SemTau)
        .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("nbr"))
        .groupBy(col("vec_id")).agg(min(col("nbr")).as("exemplar_lo"))
      v.select(col("vec_id"), col("cid").cast("long").as("cid"))
        .join(exemplars, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
          coalesce(col("exemplar_lo"), col("vec_id")).as("exemplar_id"),
          when(col("exemplar_lo").isNull, 1L).otherwise(0L).as("kept"))
    },
    Some(s"""WITH ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | pr AS (SELECT b.vec_id AS vec_id, a.vec_id AS nbr
            |  FROM fm a JOIN fm b ON a.cid = b.cid AND a.vec_id < b.vec_id
            |  WHERE ${Exact.cosineSql("a.qe", "b.qe")} >= $SemTau),
            | ex AS (SELECT vec_id, MIN(nbr) AS exemplar_lo
            |  FROM pr GROUP BY vec_id)
            | SELECT fm.vec_id, CAST(fm.cid AS BIGINT) AS cid,
            |  COALESCE(ex.exemplar_lo, fm.vec_id) AS exemplar_id,
            |  CASE WHEN ex.exemplar_lo IS NULL THEN CAST(1 AS BIGINT)
            |   ELSE CAST(0 AS BIGINT) END AS kept
            | FROM fm LEFT JOIN ex ON fm.vec_id = ex.vec_id""".stripMargin
      .replaceAll("\n", "")))

  /** Max candidate-group size for q137's bounded pass — the knob that
    * holds the self-join linear: candidate volume ≈ N·SemGroup/2
    * regardless of how cluster sizes grow. 16 keeps the sf0.01 gate
    * corpus exercising the split (n_c ≈ 25 there → m = 2 subgroups).
    */
  private[graft] val SemGroup = 16

  /** q137 — BOUNDED semantic dedup, the deployment form of q134. With
    * the cluster count K fixed, q134's within-cluster candidate volume
    * Σ_c C(n_c, 2) grows quadratically in corpus size (measured: the
    * sf1 probe's one super-linear exponent). SemDeDup's own remedy is
    * K ∝ N; when the shared layout's K is pinned by other consumers
    * (q26b/q26c), this operator applies the engine's standing cap
    * discipline (MaxSpanDf, band caps) INSIDE each cluster instead:
    * members hash-split into m = ⌈n_c/[[SemGroup]]⌉ subgroups and only
    * same-(cid, sub) pairs are compared — candidate volume collapses
    * to ≈ N·SemGroup/2, linear at any corpus size, at the cost of
    * missing cross-subgroup near-dups (recall ≈ 1/m within a cluster —
    * the same trade q23's banding makes against all-pairs, and the
    * deterministic hash makes it reproducible and oracle-exact).
    * Output adds the subgroup id; kept=1 is the deduplicated corpus.
    *
    * Scale shape: one ≤K-row size aggregate broadcast back, a map-side
    * subgroup assignment (codegen'd PolyHash), and the same equi-join →
    * integer-cosine verify → map-side MIN exemplar reduction as q134 —
    * now keyed on (cid, sub). RetrievalFusionSpec pins the volume
    * bound and the q134-consistency of untouched (m = 1) clusters.
    */
  /** The q137 pipeline with an explicit group bound — the spec drives
    * it at `group` above the max cluster size to prove the m = 1 case
    * degenerates to q134 bit-for-bit.
    */
  private[graft] def semDedupBounded(
      s: org.apache.spark.sql.SparkSession, dir: String,
      group: Int): org.apache.spark.sql.DataFrame = {
      Similarity.ensureTrained(s, dir)
      semDedupBoundedFrom(s.table(Similarity.ensureClustered(s, dir)), group)
  }

  /** The q137 core over an arbitrary (vec_id, cid, qe) layout frame —
    * factored so the spec can drive it on a synthetic forced-boundary
    * corpus next to [[semDedupMultiFrom]].
    */
  private[graft] def semDedupBoundedFrom(
      v: org.apache.spark.sql.DataFrame,
      group: Int): org.apache.spark.sql.DataFrame = {
      val g = semBoundedAssign(v, group)
      val ex = g.alias("a")
        .join(g.alias("b"),
          col("a.cid") === col("b.cid") && col("a.sub") === col("b.sub")
            && col("a.vec_id") < col("b.vec_id"))
        .filter(
          Exact.cosineFromQuantized(col("a.qe"), col("b.qe")) >= SemTau)
        .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("nbr"))
        .groupBy(col("vec_id")).agg(min(col("nbr")).as("exemplar_lo"))
      g.select(col("vec_id"), col("cid").cast("long").as("cid"), col("sub"))
        .join(ex, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"), col("sub"),
          coalesce(col("exemplar_lo"), col("vec_id")).as("exemplar_id"),
          when(col("exemplar_lo").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** q137's subgrouped assignment frame `(vec_id, cid, qe, sub)` —
    * primary cluster, hash-split into ⌈n_c/group⌉ subgroups. Shared by
    * q137 and q230's yield curve.
    */
  private[graft] def semBoundedAssign(
      v: org.apache.spark.sql.DataFrame,
      group: Int): org.apache.spark.sql.DataFrame = {
    val m = v.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_c"))
      .select(col("cid"),
        expr(s"(n_c + ${group - 1}) div $group").as("m"))
    v.join(broadcast(m), Seq("cid"))
      .select(col("vec_id"), col("cid"), col("qe"),
        pmod(PolyHash(
          concat(lit("sem|"), col("vec_id").cast("string"))), col("m"))
          .as("sub"))
  }

  val qSemDedupBounded: QuerySpec = QuerySpec(
    "q137_semdedup_bounded",
    (s, dir) => semDedupBounded(s, dir, SemGroup),
    Some(s"""WITH ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | mm AS (SELECT cid,
            |   CAST((COUNT(*) + ${SemGroup - 1}) // $SemGroup AS BIGINT) AS m
            |  FROM fm GROUP BY cid),
            | gg AS (SELECT fm.vec_id, fm.cid, fm.qe,
            |   ${PolyHash.oracleSql("'sem|' || CAST(fm.vec_id AS VARCHAR)")}
            |    % mm.m AS sub
            |  FROM fm JOIN mm ON fm.cid = mm.cid),
            | pr AS (SELECT b.vec_id AS vec_id, a.vec_id AS nbr
            |  FROM gg a JOIN gg b ON a.cid = b.cid AND a.sub = b.sub
            |   AND a.vec_id < b.vec_id
            |  WHERE ${Exact.cosineSql("a.qe", "b.qe")} >= $SemTau),
            | ex AS (SELECT vec_id, MIN(nbr) AS exemplar_lo
            |  FROM pr GROUP BY vec_id)
            | SELECT gg.vec_id, CAST(gg.cid AS BIGINT) AS cid,
            |  CAST(gg.sub AS BIGINT) AS sub,
            |  COALESCE(ex.exemplar_lo, gg.vec_id) AS exemplar_id,
            |  CASE WHEN ex.exemplar_lo IS NULL THEN CAST(1 AS BIGINT)
            |   ELSE CAST(0 AS BIGINT) END AS kept
            | FROM gg LEFT JOIN ex ON gg.vec_id = ex.vec_id""".stripMargin
      .replaceAll("\n", "")))

  /** q204 — the q137-vs-q134 AGREEMENT GATE: bounded SemDeDup's removal
    * recall and precision against the exact cluster-bounded pass, as a
    * gated one-row report — the measured number that justifies shipping
    * q137 at 100 TB scale (where q134's Σ_c C(n_c,2) candidate volume is
    * quadratic by definition; the sf1 probe measured exp 1.94 vs q137's
    * 0.45). Because q137's candidate pairs are a strict SUBSET of
    * q134's (same cid, plus the subgroup equality), every bounded
    * removal is an exact removal — precision_e6 = 1 000 000 is pinned by
    * construction and the gate proves it; recall_e6 is the information:
    * the fraction of exact removals the subgroup split retains
    * (expected ≈ 1/m per split cluster). Policy: deployments at fixed K
    * should run q137 and read THIS number for what the bound costs; see
    * the [[graft.CurationRun]] scale note.
    *
    * Scale shape: both pipelines are the already-gated plans; the
    * comparison joins two corpus-scale (vec_id, kept) frames on vec_id
    * and collapses to ONE row map-side. Exactness: pure integer counts;
    * the e6 ratios are integer `div` ≡ DuckDB `//` on nonnegatives.
    */
  val qSemDedupAgreement: QuerySpec = QuerySpec(
    "q204_semdedup_agreement",
    (s, dir) => {
      val e = qSemDedup.build(s, dir)
        .select(col("vec_id"), col("exemplar_id").as("ex_e"),
          col("kept").as("kept_e"))
      val b = semDedupBounded(s, dir, SemGroup)
        .select(col("vec_id"), col("exemplar_id").as("ex_b"),
          col("kept").as("kept_b"))
      e.join(b, Seq("vec_id"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(lit(1L) - col("kept_e")).as("n_removed_exact"),
          sum(lit(1L) - col("kept_b")).as("n_removed_bounded"),
          sum((lit(1L) - col("kept_e")) * (lit(1L) - col("kept_b")))
            .as("n_agree"),
          sum(when(col("kept_e") === 0L && col("kept_b") === 0L
            && col("ex_e") === col("ex_b"), 1L).otherwise(0L))
            .as("n_same_exemplar"))
        .select(col("n_vecs"), col("n_removed_exact"),
          col("n_removed_bounded"), col("n_agree"), col("n_same_exemplar"),
          when(col("n_removed_exact") > 0L,
            expr("(n_agree * 1000000L) div n_removed_exact"))
            .as("recall_e6"),
          when(col("n_removed_bounded") > 0L,
            expr("(n_agree * 1000000L) div n_removed_bounded"))
            .as("precision_e6"))
    },
    Some(s"""WITH ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | pr AS (SELECT b.vec_id AS vec_id, a.vec_id AS nbr
            |  FROM fm a JOIN fm b ON a.cid = b.cid AND a.vec_id < b.vec_id
            |  WHERE ${Exact.cosineSql("a.qe", "b.qe")} >= $SemTau),
            | ex AS (SELECT vec_id, MIN(nbr) AS exemplar_lo
            |  FROM pr GROUP BY vec_id),
            | ev AS (SELECT fm.vec_id,
            |   COALESCE(ex.exemplar_lo, fm.vec_id) AS ex_e,
            |   CASE WHEN ex.exemplar_lo IS NULL THEN CAST(1 AS BIGINT)
            |    ELSE CAST(0 AS BIGINT) END AS kept_e
            |  FROM fm LEFT JOIN ex ON fm.vec_id = ex.vec_id),
            | mm AS (SELECT cid,
            |   CAST((COUNT(*) + ${SemGroup - 1}) // $SemGroup AS BIGINT) AS m
            |  FROM fm GROUP BY cid),
            | gg AS (SELECT fm.vec_id, fm.cid, fm.qe,
            |   ${PolyHash.oracleSql("'sem|' || CAST(fm.vec_id AS VARCHAR)")}
            |    % mm.m AS sub
            |  FROM fm JOIN mm ON fm.cid = mm.cid),
            | prb AS (SELECT b.vec_id AS vec_id, a.vec_id AS nbr
            |  FROM gg a JOIN gg b ON a.cid = b.cid AND a.sub = b.sub
            |   AND a.vec_id < b.vec_id
            |  WHERE ${Exact.cosineSql("a.qe", "b.qe")} >= $SemTau),
            | exb AS (SELECT vec_id, MIN(nbr) AS exemplar_lo
            |  FROM prb GROUP BY vec_id),
            | bv AS (SELECT gg.vec_id,
            |   COALESCE(exb.exemplar_lo, gg.vec_id) AS ex_b,
            |   CASE WHEN exb.exemplar_lo IS NULL THEN CAST(1 AS BIGINT)
            |    ELSE CAST(0 AS BIGINT) END AS kept_b
            |  FROM gg LEFT JOIN exb ON gg.vec_id = exb.vec_id),
            | j AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
            |   CAST(SUM(1 - kept_e) AS BIGINT) AS n_removed_exact,
            |   CAST(SUM(1 - kept_b) AS BIGINT) AS n_removed_bounded,
            |   CAST(SUM((1 - kept_e) * (1 - kept_b)) AS BIGINT) AS n_agree,
            |   CAST(SUM(CASE WHEN kept_e = 0 AND kept_b = 0
            |     AND ex_e = ex_b THEN 1 ELSE 0 END) AS BIGINT)
            |    AS n_same_exemplar
            |  FROM ev JOIN bv ON ev.vec_id = bv.vec_id)
            | SELECT n_vecs, n_removed_exact, n_removed_bounded, n_agree,
            |  n_same_exemplar,
            |  CASE WHEN n_removed_exact > 0
            |   THEN CAST((n_agree * 1000000) // n_removed_exact AS BIGINT)
            |   END AS recall_e6,
            |  CASE WHEN n_removed_bounded > 0
            |   THEN CAST((n_agree * 1000000) // n_removed_bounded AS BIGINT)
            |   END AS precision_e6
            | FROM j""".stripMargin.replaceAll("\n", "")))

  /** The q227 core over an arbitrary (vec_id, cid, qe) layout frame and
    * codebook — factored like [[semDedupBoundedFrom]] so the spec can
    * force a cluster-boundary pair. `cid` must be the primary (nearest)
    * assignment for the output's cluster column to agree with the
    * layout.
    */
  private[graft] def semDedupMultiFrom(
      v: org.apache.spark.sql.DataFrame, cents: Seq[Seq[Long]],
      group: Int): org.apache.spark.sql.DataFrame = {
    val g = semMultiAssign(v, cents, group)
    val ex = g.alias("a")
      .join(g.alias("b"),
        col("a.acid") === col("b.acid") && col("a.sub") === col("b.sub")
          && col("a.vec_id") < col("b.vec_id"))
      .filter(
        Exact.cosineFromQuantized(col("a.qe"), col("b.qe")) >= SemTau)
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("nbr"))
      .groupBy(col("vec_id")).agg(min(col("nbr")).as("exemplar_lo"))
    v.select(col("vec_id"), col("cid").cast("long").as("cid"))
      .join(ex, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("exemplar_lo"), col("vec_id")).as("exemplar_id"),
        when(col("exemplar_lo").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** q227's subgrouped multi-assignment frame `(vec_id, acid, qe, sub)`
    * — each vector under BOTH of its 2 nearest centroids, hash-split
    * per assigned centroid into ⌈n_acid/group⌉ subgroups (n_acid counts
    * multi-assigned membership). Shared with RetrievalFusionSpec's
    * candidate-volume pin.
    */
  private[graft] def semMultiAssign(
      v: org.apache.spark.sql.DataFrame, cents: Seq[Seq[Long]],
      group: Int): org.apache.spark.sql.DataFrame = {
    val a2 = v.select(col("vec_id"), col("qe"),
      explode(ProbeCentroids(col("qe"), cents, 2)).as("acid"))
    val m = a2.groupBy(col("acid")).agg(count(lit(1)).as("n_a"))
      .select(col("acid"),
        expr(s"(n_a + ${group - 1}) div $group").as("m"))
    a2.join(broadcast(m), Seq("acid"))
      .select(col("vec_id"), col("acid"), col("qe"),
        pmod(PolyHash(
          concat(lit("sem|"), col("vec_id").cast("string"))), col("m"))
          .as("sub"))
  }

  /** The multi-assignment SemDeDup oracle CTEs (`a2`: each vector under
    * its 2 nearest centroids — `fa WHERE rk <= 2`, the SAME ranking
    * [[graft.functions.ProbeCentroids]] computes; `am`/`ag`: the
    * subgroup split; `aex`: per-vector lowest qualifying neighbor) —
    * shared by the q227 and q228 oracles. Assumes the Similarity train
    * + assign CTEs (`e`, `c$TrainIters`, `fa`, `fm`) are in scope.
    */
  private def semMultiSqlCtes: String =
    s"""a2 AS (SELECT vec_id, qe, cid AS acid FROM fa WHERE rk <= 2),
       | am AS (SELECT acid,
       |   CAST((COUNT(*) + ${SemGroup - 1}) // $SemGroup AS BIGINT) AS m
       |  FROM a2 GROUP BY acid),
       | ag AS (SELECT a2.vec_id, a2.acid, a2.qe,
       |   ${PolyHash.oracleSql("'sem|' || CAST(a2.vec_id AS VARCHAR)")}
       |    % am.m AS sub
       |  FROM a2 JOIN am ON a2.acid = am.acid),
       | apr AS (SELECT b.vec_id AS vec_id, a.vec_id AS nbr
       |  FROM ag a JOIN ag b ON a.acid = b.acid AND a.sub = b.sub
       |   AND a.vec_id < b.vec_id
       |  WHERE ${Exact.cosineSql("a.qe", "b.qe")} >= $SemTau),
       | aex AS (SELECT vec_id, MIN(nbr) AS exemplar_lo
       |  FROM apr GROUP BY vec_id)""".stripMargin.replaceAll("\n", "")

  /** q227 — MULTI-ASSIGNMENT bounded SemDeDup: q137 with each vector
    * assigned to its 2 NEAREST centroids (the [[graft.functions.ProbeCentroids]]
    * ranking the serving path already trusts) instead of only its
    * primary cluster — closing q134/q137's cluster-boundary blind spot:
    * both compare only within ONE IVF cell, so a near-dup pair
    * straddling a centroid boundary (a's cell X, b's cell Y) is
    * invisible at ANY subgroup bound. Under 2-nearest assignment the
    * pair meets wherever their assignment sets intersect (a ∈ {X, Y},
    * b ∈ {Y, X} — the boundary geometry that split them is exactly what
    * makes each the other's runner-up cell). q137's bounded keeper rule
    * then runs per (assigned cid, subgroup) — n_acid counts
    * multi-assigned membership, so the split still bounds every group —
    * and verdicts UNION across a vector's two assignments via the same
    * min-exemplar reduction. Output matches q134's shape (`cid` stays
    * the primary assignment); kept=1 is the deduplicated corpus.
    *
    * Scale shape: the assignment is ONE map-side codegen'd expression
    * per vector against the literal codebook (no vec×centroid join),
    * exploded to exactly 2N rows; the ≤K-row multi-count broadcasts
    * back; candidates come ONLY from the (acid, sub) equi-join —
    * volume ≈ 2·N·SemGroup/2 ≤ 2·N·SemGroup (RetrievalFusionSpec pins
    * the bound), i.e. the same linear envelope as q137 at twice the
    * constant, at any corpus size. The exemplar reduction and the final
    * vec_id-keyed left join are q134's.
    */
  val qSemDedupMulti: QuerySpec = QuerySpec(
    "q227_semdedup_multi",
    (s, dir) => {
      val cents = Similarity.ensureTrained(s, dir)
      semDedupMultiFrom(
        s.table(Similarity.ensureClustered(s, dir)), cents, SemGroup)
    },
    Some(s"""WITH ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | $semMultiSqlCtes
            | SELECT fm.vec_id, CAST(fm.cid AS BIGINT) AS cid,
            |  COALESCE(aex.exemplar_lo, fm.vec_id) AS exemplar_id,
            |  CASE WHEN aex.exemplar_lo IS NULL THEN CAST(1 AS BIGINT)
            |   ELSE CAST(0 AS BIGINT) END AS kept
            | FROM fm LEFT JOIN aex ON fm.vec_id = aex.vec_id""".stripMargin
      .replaceAll("\n", "")))

  /** q228 — the q227-vs-q134 BOUNDARY report (the q204 pattern applied
    * to the multi-assignment pass): one row comparing multi-assignment
    * removals against the exact single-cluster pass. `n_boundary_extra`
    * — vectors q134 KEEPS but q227 removes — is the measured size of
    * the cluster-boundary blind spot (pairs no within-cell pass can see
    * at any bound); `n_missed_by_bound` is what the subgroup split
    * costs in the other direction (the q204 recall story);
    * `recall_e6` = multi's retention of exact removals. Policy: ship
    * q227 where boundary loss matters, and read THIS row for what the
    * second assignment buys on the corpus at hand.
    *
    * Scale shape: both inputs are the already-gated linear plans; the
    * comparison is one vec_id equi-join collapsed to ONE row map-side.
    * Pure integer counts; e6 ratios via integer `div` ≡ `//`.
    */
  val qSemDedupBoundary: QuerySpec = QuerySpec(
    "q228_semdedup_boundary",
    (s, dir) => {
      val e = qSemDedup.build(s, dir)
        .select(col("vec_id"), col("kept").as("kept_e"))
      val m = qSemDedupMulti.build(s, dir)
        .select(col("vec_id"), col("kept").as("kept_m"))
      e.join(m, Seq("vec_id"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(lit(1L) - col("kept_e")).as("n_removed_exact"),
          sum(lit(1L) - col("kept_m")).as("n_removed_multi"),
          sum((lit(1L) - col("kept_e")) * (lit(1L) - col("kept_m")))
            .as("n_agree"),
          sum(col("kept_e") * (lit(1L) - col("kept_m")))
            .as("n_boundary_extra"),
          sum((lit(1L) - col("kept_e")) * col("kept_m"))
            .as("n_missed_by_bound"))
        .select(col("n_vecs"), col("n_removed_exact"),
          col("n_removed_multi"), col("n_agree"),
          col("n_boundary_extra"), col("n_missed_by_bound"),
          when(col("n_removed_exact") > 0L,
            expr("(n_agree * 1000000L) div n_removed_exact"))
            .as("recall_e6"))
    },
    Some(s"""WITH ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | pr AS (SELECT b.vec_id AS vec_id, a.vec_id AS nbr
            |  FROM fm a JOIN fm b ON a.cid = b.cid AND a.vec_id < b.vec_id
            |  WHERE ${Exact.cosineSql("a.qe", "b.qe")} >= $SemTau),
            | ex AS (SELECT vec_id, MIN(nbr) AS exemplar_lo
            |  FROM pr GROUP BY vec_id),
            | ev AS (SELECT fm.vec_id,
            |   CASE WHEN ex.exemplar_lo IS NULL THEN CAST(1 AS BIGINT)
            |    ELSE CAST(0 AS BIGINT) END AS kept_e
            |  FROM fm LEFT JOIN ex ON fm.vec_id = ex.vec_id),
            | $semMultiSqlCtes,
            | mv AS (SELECT fm.vec_id,
            |   CASE WHEN aex.exemplar_lo IS NULL THEN CAST(1 AS BIGINT)
            |    ELSE CAST(0 AS BIGINT) END AS kept_m
            |  FROM fm LEFT JOIN aex ON fm.vec_id = aex.vec_id),
            | j AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
            |   CAST(SUM(1 - kept_e) AS BIGINT) AS n_removed_exact,
            |   CAST(SUM(1 - kept_m) AS BIGINT) AS n_removed_multi,
            |   CAST(SUM((1 - kept_e) * (1 - kept_m)) AS BIGINT) AS n_agree,
            |   CAST(SUM(kept_e * (1 - kept_m)) AS BIGINT)
            |    AS n_boundary_extra,
            |   CAST(SUM((1 - kept_e) * kept_m) AS BIGINT)
            |    AS n_missed_by_bound
            |  FROM ev JOIN mv ON ev.vec_id = mv.vec_id)
            | SELECT n_vecs, n_removed_exact, n_removed_multi, n_agree,
            |  n_boundary_extra, n_missed_by_bound,
            |  CASE WHEN n_removed_exact > 0
            |   THEN CAST((n_agree * 1000000) // n_removed_exact AS BIGINT)
            |   END AS recall_e6
            | FROM j""".stripMargin.replaceAll("\n", "")))

  /** q227's DISTINCT undirected qualifying-pair surface `(u, v)` with
    * u < v — a boundary pair can meet under BOTH shared assignments
    * (each vector's two cells coincide), so the (acid, sub) equi-join
    * output is deduped before any graph use. Volume inherits q227's
    * ≤ 2·N·SemGroup bound. Shared by q231/q232.
    */
  private[graft] def semMultiPairs(
      v: org.apache.spark.sql.DataFrame, cents: Seq[Seq[Long]],
      group: Int): org.apache.spark.sql.DataFrame = {
    val g = semMultiAssign(v, cents, group)
    g.alias("a")
      .join(g.alias("b"),
        col("a.acid") === col("b.acid") && col("a.sub") === col("b.sub")
          && col("a.vec_id") < col("b.vec_id"))
      .filter(Exact.cosineFromQuantized(col("a.qe"), col("b.qe")) >= SemTau)
      .select(col("a.vec_id").as("u"), col("b.vec_id").as("v"))
      .distinct()
  }

  /** The q231 connected-components oracle chain over q227's pair
    * surface (`spairs`/`sedges`/`snodes`/`sreach`/`scomp` — the q50
    * `ccSqlCtes` discipline): MIN over everything reachable ≡ the
    * converged pointer-jumping label. Assumes the train/assign CTEs
    * and [[semMultiSqlCtes]] (`apr`) are in scope; callers prepend
    * `WITH RECURSIVE`. `spairs` is MATERIALIZED: `sedges` references
    * it twice (both directions) and a plain CTE would re-expand the
    * whole assignment chain per reference.
    */
  private def semCcSqlCtes: String =
    s"""spairs AS MATERIALIZED (
       |   SELECT DISTINCT nbr AS u, vec_id AS v FROM apr),
       | sedges AS (SELECT u, v FROM spairs
       |   UNION ALL SELECT v, u FROM spairs),
       | snodes AS (SELECT DISTINCT u FROM sedges),
       | sreach(u, r) AS (
       |   SELECT u, u FROM snodes
       |   UNION
       |   SELECT e.u, r.r FROM sedges e JOIN sreach r ON e.v = r.u),
       | scomp AS (SELECT u, MIN(r) AS comp FROM sreach GROUP BY u)"""
      .stripMargin.replaceAll("\n", "")

  /** q231 — TRANSITIVE SemDeDup collapse: connected components over
    * q227's bounded pair surface, labeling every vector with the
    * minimum vec_id reachable through qualifying near-dup pairs. The
    * per-vector min-neighbor verdict q134/q137/q227 ship is NOT a
    * component canonical: A~B, B~C keeps A and C under DIFFERENT
    * exemplars (and B's exemplar A is itself removable in longer
    * chains), so "one exemplar per semantic cluster" silently becomes
    * "one per chain link". This is q50's discipline (per-pair removal
    * → component collapse) applied to the embedding family: comp_id is
    * the component minimum, kept=1 exactly one vector per transitive
    * cluster. Output matches q227's shape with comp_id in place of
    * exemplar_id.
    *
    * Scale shape: the pair surface is q227's (map-side 2-nearest
    * assignment, candidates ONLY from the (acid, sub) equi-join,
    * ≤ 2·N·SemGroup rows); the collapse is [[Dedup.connectedComponents]]
    * — pointer-jumping min-label propagation, O(log diameter)
    * iterations of edge-sized equi-joins with exactly one persisted
    * generation live. Pairs/edges/labels come from the memoized
    * [[SemGraph]] store (the q50/DupGraph convention: computed once
    * per corpus per JVM, a warehouse table at scale — this query is
    * the store's canonical read; re-running the CC iteration per
    * execution measured 11.6 s/rep at sf0.1 vs a sub-second label
    * read), and the final label join is vec_id-keyed. The oracle is
    * DuckDB's recursive closure over the same pair SQL.
    */
  val qSemDedupCc: QuerySpec = QuerySpec(
    "q231_semdedup_cc",
    (s, dir) => {
      val layout = s.table(Similarity.ensureClustered(s, dir))
      val labels = SemGraph.labels(s, dir)
      layout.select(col("vec_id"), col("cid").cast("long").as("cid"))
        .join(labels.withColumnRenamed("u", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
          coalesce(col("cluster_id"), col("vec_id")).as("comp_id"),
          when(coalesce(col("cluster_id"), col("vec_id")) === col("vec_id"),
            1L).otherwise(0L).as("kept"))
    },
    Some(s"""WITH RECURSIVE ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | $semMultiSqlCtes,
            | $semCcSqlCtes
            | SELECT fm.vec_id, CAST(fm.cid AS BIGINT) AS cid,
            |  COALESCE(scomp.comp, fm.vec_id) AS comp_id,
            |  CASE WHEN COALESCE(scomp.comp, fm.vec_id) = fm.vec_id
            |   THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS kept
            | FROM fm LEFT JOIN scomp ON fm.vec_id = scomp.u""".stripMargin
      .replaceAll("\n", "")))

  /** q232 — the q231-vs-q227 agreement report (the q204/q228 pattern):
    * one row quantifying what transitive collapse changes on the
    * shipped multi-assignment verdicts. `n_chain_extra` — vectors q227
    * KEEPS but CC removes — is the measured chain effect (kept link
    * heads whose component reaches a lower minimum transitively);
    * `n_multi_only` is 0 BY CONSTRUCTION (a q227 removal has a lower
    * direct neighbor, so it is never its component minimum — the gate
    * proves removed_multi ⊆ removed_cc); `n_dangling_exemplar` counts
    * q227 removals whose exemplar is itself removed — the dangling
    * pointer a component canonical exists to fix. Policy: dedup
    * verdicts can ship per-vector (q227); cluster CANONICALS (dedup
    * provenance, one-keeper guarantees) should read q231.
    *
    * Scale shape: both inputs are the already-gated linear plans;
    * q227's frame is scratch-flushed ONCE for its two consumers
    * (vector side + exemplar lookup — the q60b re-execution rule),
    * the exemplar lookup is a vec_id equi-join, and the report
    * collapses to ONE row map-side. Pure integer counts; the e6 ratio
    * is integer `div` ≡ `//` on nonnegatives.
    */
  val qSemDedupCcAgreement: QuerySpec = QuerySpec(
    "q232_semdedup_cc_agreement",
    (s, dir) => {
      // flushed: the embedded semdedup plan feeds both the vec_id join
      // and the exemplar side. A repartition(vec_id) swap was tried in
      // r19 and REVERTED: the two consumers prune different columns
      // through the repartition, so reuse cannot dedupe the subtrees
      // (static plan: 4 store scans for a 0.98× local win)
      val m = Scratch.flush(s,
        Scratch.dirTag("semccagree", dir),
        qSemDedupMulti.build(s, dir)
          .select(col("vec_id"), col("exemplar_id"),
            col("kept").as("kept_m")))
      val c = qSemDedupCc.build(s, dir)
        .select(col("vec_id"), col("kept").as("kept_c"))
      val exSide = m.select(col("vec_id").as("exemplar_id"),
        col("kept_m").as("ex_kept"))
      m.join(c, Seq("vec_id"))
        .join(exSide, Seq("exemplar_id"))
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(lit(1L) - col("kept_m")).as("n_removed_multi"),
          sum(lit(1L) - col("kept_c")).as("n_removed_cc"),
          sum(col("kept_m") * (lit(1L) - col("kept_c")))
            .as("n_chain_extra"),
          sum((lit(1L) - col("kept_m")) * col("kept_c")).as("n_multi_only"),
          sum((lit(1L) - col("kept_m")) * (lit(1L) - col("ex_kept")))
            .as("n_dangling_exemplar"))
        .select(col("n_vecs"), col("n_removed_multi"), col("n_removed_cc"),
          col("n_chain_extra"), col("n_multi_only"),
          col("n_dangling_exemplar"),
          when(col("n_removed_cc") > 0L,
            expr("(n_removed_multi * 1000000L) div n_removed_cc"))
            .as("coverage_e6"))
    },
    Some(s"""WITH RECURSIVE ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | $semMultiSqlCtes,
            | mv AS MATERIALIZED (SELECT fm.vec_id,
            |   COALESCE(aex.exemplar_lo, fm.vec_id) AS exemplar_id,
            |   CASE WHEN aex.exemplar_lo IS NULL THEN CAST(1 AS BIGINT)
            |    ELSE CAST(0 AS BIGINT) END AS kept_m
            |  FROM fm LEFT JOIN aex ON fm.vec_id = aex.vec_id),
            | $semCcSqlCtes,
            | cv AS (SELECT fm.vec_id,
            |   CASE WHEN COALESCE(scomp.comp, fm.vec_id) = fm.vec_id
            |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS kept_c
            |  FROM fm LEFT JOIN scomp ON fm.vec_id = scomp.u),
            | j AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
            |   CAST(SUM(1 - mv.kept_m) AS BIGINT) AS n_removed_multi,
            |   CAST(SUM(1 - cv.kept_c) AS BIGINT) AS n_removed_cc,
            |   CAST(SUM(mv.kept_m * (1 - cv.kept_c)) AS BIGINT)
            |    AS n_chain_extra,
            |   CAST(SUM((1 - mv.kept_m) * cv.kept_c) AS BIGINT)
            |    AS n_multi_only,
            |   CAST(SUM((1 - mv.kept_m) * (1 - ex.kept_m)) AS BIGINT)
            |    AS n_dangling_exemplar
            |  FROM mv JOIN cv ON mv.vec_id = cv.vec_id
            |   JOIN mv ex ON mv.exemplar_id = ex.vec_id)
            | SELECT n_vecs, n_removed_multi, n_removed_cc, n_chain_extra,
            |  n_multi_only, n_dangling_exemplar,
            |  CASE WHEN n_removed_cc > 0
            |   THEN CAST((n_removed_multi * 1000000) // n_removed_cc
            |    AS BIGINT) END AS coverage_e6
            | FROM j""".stripMargin.replaceAll("\n", "")))

  /** q230's τ grid (declared before the spec whose oracle interpolates
    * it — the q82 object-init-order rule). Brackets the shipped
    * [[SemTau]] = 0.3 on both sides.
    */
  private[graft] val YieldTaus: Seq[Double] =
    Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)

  /** q230 — SemDeDup YIELD CURVE: over q137's bounded candidate surface
    * (the deployment form — same primary-cluster subgroup split), the
    * number of vectors removed and the surviving-corpus share at every
    * τ in [[YieldTaus]] — the policy readout for the ONE knob the
    * semantic-dedup family exposes. The paper picks τ per corpus by
    * exactly this curve (how much data am I willing to drop); shipping
    * it as a gated query means retuning τ is a table read, not a
    * pipeline rerun — the q92 threshold-curve discipline applied to the
    * embedding family. n_removed at τ = 0.3 equals q137's removal count
    * by construction (RetrievalFusionSpec pins it).
    *
    * Scale shape: ONE bounded pair join (q137's (cid, sub) equi-join,
    * candidates ≤ N·SemGroup/2) → per-vector MAX neighbor cosine
    * (map-side-combinable, one row per vector with any candidate) →
    * the ≤8-row τ grid exploded over it map-side → grid-sized rollup;
    * the grid left-join restores zero rows. Nothing corpus-sized past
    * the candidate join, which is the already-adjudicated q137 surface.
    *
    * Exactness: cosines are the gated integer-dot doubles; each
    * removal test is one `best >= τ` comparison of identical doubles
    * against a literal; yield_e6 is integer arithmetic (the DuckDB τ
    * list is CAST to DOUBLE[] — the q92 decimal-literal trap).
    */
  val qSemDedupYield: QuerySpec = QuerySpec(
    "q230_semdedup_yield",
    (s, dir) => {
      import s.implicits._
      Similarity.ensureTrained(s, dir)
      val v = s.table(Similarity.ensureClustered(s, dir))
      val g = semBoundedAssign(v, SemGroup)
      val best = g.alias("a")
        .join(g.alias("b"),
          col("a.cid") === col("b.cid") && col("a.sub") === col("b.sub")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("b.vec_id").as("vec_id"),
          Exact.cosineFromQuantized(col("a.qe"), col("b.qe")).as("cs"))
        .groupBy(col("vec_id")).agg(max(col("cs")).as("best"))
      val total = v.agg(count(lit(1)).as("n_vecs"))
      val grid = YieldTaus.toDF("tau")
      val removed = best
        .select(col("best"), explode(typedlit(YieldTaus)).as("tau"))
        .groupBy(col("tau"))
        .agg(sum(when(col("best") >= col("tau"), 1L).otherwise(0L))
          .as("n_removed"))
      // no broadcast hint on the grid: the LEFT side of a left-outer
      // can't build (Spark logs an unsupported-hint warning); both
      // sides are ≤8 rows anyway
      grid.join(removed, Seq("tau"), "left")
        .crossJoin(broadcast(total))
        .select(col("tau"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          col("n_vecs"))
        .select(col("tau"), col("n_removed"), col("n_vecs"),
          expr("((n_vecs - n_removed) * 1000000L) div n_vecs")
            .as("yield_e6"))
    },
    Some(s"""WITH ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | mm AS (SELECT cid,
            |   CAST((COUNT(*) + ${SemGroup - 1}) // $SemGroup AS BIGINT) AS m
            |  FROM fm GROUP BY cid),
            | gg AS (SELECT fm.vec_id, fm.cid, fm.qe,
            |   ${PolyHash.oracleSql("'sem|' || CAST(fm.vec_id AS VARCHAR)")}
            |    % mm.m AS sub
            |  FROM fm JOIN mm ON fm.cid = mm.cid),
            | bst AS (SELECT b.vec_id,
            |   MAX(${Exact.cosineSql("a.qe", "b.qe")}) AS best
            |  FROM gg a JOIN gg b ON a.cid = b.cid AND a.sub = b.sub
            |   AND a.vec_id < b.vec_id
            |  GROUP BY b.vec_id),
            | tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM fm),
            | tg AS (SELECT UNNEST(CAST([${YieldTaus.mkString(", ")}]
            |   AS DOUBLE[])) AS tau),
            | rm AS (SELECT tg.tau, CAST(SUM(CASE WHEN bst.best >= tg.tau
            |    THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
            |  FROM tg, bst GROUP BY tg.tau)
            | SELECT tg.tau, COALESCE(rm.n_removed, 0) AS n_removed,
            |  tt.n_vecs,
            |  CAST(((tt.n_vecs - COALESCE(rm.n_removed, 0)) * 1000000)
            |   // tt.n_vecs AS BIGINT) AS yield_e6
            | FROM tg LEFT JOIN rm ON tg.tau = rm.tau, tt""".stripMargin
      .replaceAll("\n", "")))

  /** q229 — centroid-margin histogram: per vector, the cosine GAP
    * between its nearest and second-nearest trained centroid, bucketed
    * at 0.05 resolution — the boundary-risk readout that tells a
    * deployment WHEN q227's multi-assignment pays: near-zero margin
    * means the vector sits on a cell boundary (its near-dups plausibly
    * landed one cell over, invisible to q134/q137), while a corpus
    * whose mass sits at high margin gets nothing from the second
    * assignment and should ship plain q137. Reads next to q228: q228
    * measures what the boundary blind spot COST on this corpus, q229
    * predicts it from geometry alone (no pair join at all).
    *
    * Scale shape: ONE map-side pass — the K codebook cosines are
    * literal-codebook expressions per row (the q26 discipline: no
    * vec×centroid join), the top-2 gap comes from an array_sort over
    * the K-element array, and the rollup is a ≤41-bucket map-side-
    * combinable count. No joins, no windows, nothing corpus-sized past
    * the scan; trivially linear at any corpus size.
    *
    * Exactness: cosines are the gated integer-dot/sqrt/divide doubles
    * (bit-identical on both engines — the q19 precedent); the margin is
    * one subtraction of identical doubles and the bucket one
    * multiply+floor of an identical double, so the histogram is
    * hash-exact without any fixed-point detour.
    */
  val qCentroidMargin: QuerySpec = QuerySpec(
    "q229_centroid_margin",
    (s, dir) => {
      val cents = Similarity.ensureTrained(s, dir)
      val v = s.table(Similarity.ensureClustered(s, dir))
      val cosArr = array(cents.map(c =>
        Exact.cosineFromQuantized(col("qe"), typedlit(c))): _*)
      v.select(col("vec_id"), array_sort(cosArr).as("cs"))
        .select(
          (element_at(col("cs"), -1) - element_at(col("cs"), -2))
            .as("margin"))
        .select(floor(col("margin") * lit(20.0d)).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_vecs"))
    },
    Some(s"""WITH ${Similarity.trainSqlCtes},
            | mg AS (SELECT e.vec_id,
            |   ${Exact.cosineSql("e.qe", "c.cqe")} AS cs,
            |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
            |    ORDER BY ${Exact.cosineSql("e.qe", "c.cqe")} DESC, c.cid)
            |    AS rk
            |  FROM e, c${Similarity.TrainIters} c),
            | m2 AS (SELECT vec_id,
            |   MAX(CASE WHEN rk = 1 THEN cs END)
            |    - MAX(CASE WHEN rk = 2 THEN cs END) AS margin
            |  FROM mg WHERE rk <= 2 GROUP BY vec_id)
            | SELECT CAST(FLOOR(margin * 20.0) AS BIGINT) AS bucket,
            |  COUNT(*) AS n_vecs
            | FROM m2 GROUP BY 1""".stripMargin.replaceAll("\n", "")))

  /** Multi-query ANN serving against the clustered-at-rest IVF layout —
    * the request-batch form of q26c's single-query probe, and the ONE
    * definition [[graft.streaming.RetrievalStream]]'s per-trigger
    * serving runs. Per query in `queries` (query_id, embedding): the
    * top-`k` corpus vectors by exact quantized cosine among the
    * query's `nprobe` nearest clusters, with the in-query rank.
    *
    * Scale shape: the probe-set assignment is ONE map-side pass over
    * the query batch (codegen'd [[ProbeCentroids]] against the literal
    * codebook — no query×centroid join); the layout scan is
    * partition-pruned to the UNION of probed cids via a driver-collected
    * literal `isin` (bounded by the codebook size K, never by batch or
    * corpus size — the q26c static-pruning discipline, which a join
    * could only approximate with runtime filters); the (query, cid)
    * probe frame is broadcast (requests are admission-bounded, corpus
    * is not); the per-query top-k is a window partitioned by query_id
    * over ≤ nprobe/K of the corpus per query.
    */
  /** `table` overrides the layout to serve from (an [[graft.streaming.AnnStream]]
    * incrementally-built table); None = the dir's batch-built layout.
    * The codebook is always the dir's trained one — the frozen-codebook
    * discipline means an incremental table carries the SAME assignments.
    */
  private[graft] def serveTopK(s: SparkSession, dir: String,
      queries: DataFrame, nprobe: Int = 2, k: Int = 10,
      table: Option[String] = None): DataFrame = {
    val cents = Similarity.ensureTrained(s, dir)
    val layout = s.table(table.getOrElse(Similarity.ensureClustered(s, dir)))
    val pq = queries
      .select(col("query_id"), Exact.quantize(col("embedding")).as("qqe"))
      .withColumn("cid", explode(ProbeCentroids(col("qqe"), cents, nprobe)))
    // ≤ K distinct values by construction — catalog-sized, never
    // batch-sized; a literal set is what makes the scan prune statically
    val cids = pq.select(col("cid")).distinct().collect().map(_.getInt(0)).toSeq
    layout.filter(col("cid").isin(cids: _*))
      .join(broadcast(pq), Seq("cid"))
      .select(col("query_id"), col("vec_id"),
        Exact.cosineFromQuantized(col("qe"), col("qqe")).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** q143 — batched ANN serving: the gated twin of the serving path —
    * 5 query vectors (vec_id < 5) answered in one plan, each with its
    * nprobe=2 / top-10 result list and ranks. q26b/q26c serve ONE query
    * with a driver-ranked probe set; this is the shape a retrieval
    * endpoint actually executes per request batch, and the oracle pins
    * the per-query probe selection AND the per-query ranking in one
    * statement.
    */
  /** The oracle's batched dense-serving CTEs (`qs`: the 5 query
    * vectors; `pr`: per-query centroid probe ranking; `srv`: the
    * per-query nprobe=2 top-10 with cosine and rank) — ONE definition
    * shared by the q143/q147/q168/q173 oracles so a serving-oracle fix
    * lands everywhere at once (the ccSqlCtes discipline). Assumes `e`,
    * `c$TrainIters` and `fm` from the Similarity CTEs are in scope.
    */
  private def serveSqlCtes: String =
    s"""qs AS (SELECT vec_id AS query_id, qe AS qqe FROM e
       |  WHERE vec_id < 5),
       | pr AS (SELECT qs.query_id, qs.qqe, c.cid, ROW_NUMBER() OVER (
       |   PARTITION BY qs.query_id
       |   ORDER BY ${Exact.cosineSql("c.cqe", "qs.qqe")} DESC, c.cid)
       |   AS prk
       |  FROM c${Similarity.TrainIters} c, qs),
       | srv AS (SELECT query_id, vec_id, cos_sim, rnk FROM (
       |  SELECT pr.query_id, fm.vec_id,
       |    ${Exact.cosineSql("fm.qe", "pr.qqe")} AS cos_sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY pr.query_id
       |      ORDER BY ${Exact.cosineSql("fm.qe", "pr.qqe")} DESC, fm.vec_id)
       |      AS BIGINT) AS rnk
       |  FROM fm JOIN pr ON fm.cid = pr.cid AND pr.prk <= 2)
       |  WHERE rnk <= 10)""".stripMargin.replaceAll("\n", "")

  val qAnnServe: QuerySpec = QuerySpec(
    "q143_ann_serve",
    (s, dir) => {
      val queries = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      serveTopK(s, dir, queries, nprobe = 2, k = 10)
    },
    Some(s"""WITH ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | $serveSqlCtes
            | SELECT query_id, vec_id, cos_sim, rnk FROM srv""".stripMargin
      .replaceAll("\n", "")))

  /** q147 — serving recall@10: per served query, |exact top-10 ∩
    * q143's nprobe=2 top-10| / 10 — the q60 recall discipline applied
    * to the BATCHED serving path, so the serving endpoint ships with
    * its own quality metric (per-query, not corpus-averaged: one cold
    * query in a badly-probed cluster shows up as ITS row, not diluted).
    * Self-retrieval guarantees hits ≥ 1 (the query is a corpus member
    * and its own cluster is the top probe).
    *
    * Scale shape: the exact side is ONE corpus scan with the 5 query
    * vectors as literals (the q103 anchors-as-literals pattern — no
    * query×corpus join) exploded map-side, per-query window top-10;
    * the served side is the gated q143 plan; the intersection is a
    * join of two ≤50-row frames. The one division is by 10 — exact on
    * both engines.
    */
  val qServeRecall: QuerySpec = QuerySpec(
    "q147_serve_recall",
    (s, dir) => {
      val served = qAnnServe.build(s, dir)
        .select(col("query_id"), col("vec_id"))
      val e = Tables.load(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qqe"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
      val qVecs = array(qs.map { case (_, v) => typedlit(v) }: _*)
      val qIds = typedlit(qs.map(_._1))
      val exactTop = e
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
        .select(col("vec_id"), col("qe"), posexplode(qVecs))
        .select(element_at(qIds, col("pos") + 1).as("query_id"), col("vec_id"),
          Exact.cosineFromQuantized(col("qe"), col("col")).as("cos_sim"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("vec_id"))
      exactTop.join(served, Seq("query_id", "vec_id"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("hits"))
        .select(col("query_id"), col("hits"),
          (col("hits").cast("double") / lit(10.0d)).as("recall"))
    },
    Some(s"""WITH ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | $serveSqlCtes,
            | ex AS (SELECT query_id, vec_id FROM (
            |  SELECT qs.query_id, e.vec_id, ROW_NUMBER() OVER (
            |    PARTITION BY qs.query_id
            |    ORDER BY ${Exact.cosineSql("e.qe", "qs.qqe")} DESC, e.vec_id)
            |    AS rk
            |  FROM e, qs) WHERE rk <= 10)
            | SELECT ex.query_id, COUNT(*) AS hits,
            |  CAST(COUNT(*) AS DOUBLE) / 10.0 AS recall
            | FROM ex JOIN srv ON ex.query_id = srv.query_id
            |  AND ex.vec_id = srv.vec_id
            | GROUP BY ex.query_id""".stripMargin.replaceAll("\n", "")))

  /** q154 — BM25 served FROM the persisted inverted index
    * ([[graft.sources.IndexStore]]): the same literal-term request as
    * q93, answered from the posting-list layout instead of a corpus
    * text scan — the incremental 100 TB pattern (index once at ingest,
    * [[graft.streaming.IndexStream]] keeps it current; every query pays
    * only its terms' postings), completing the lexical half of the
    * serving stack the way q26c/q143 complete the dense half. The
    * oracle is q93's UNCHANGED SQL (DuckDB recomputes from raw text):
    * passing proves the store round-trip is bit-exact — the q33b
    * store-equivalence discipline.
    *
    * Scale shape: the probe reads ONLY the request terms' postings
    * (tok-bucketed, sorted — bucket pruning + rowgroup stats cut the
    * scan to the matching term rows, never the corpus); df reduces
    * per-term map-side; corpus stats (N, D) are one manifest agg; both
    * ride a single broadcast row onto the ≤ Σ df matched postings; one
    * per-doc pivot agg and a TakeOrdered(10). Exchange volume is
    * request-sized regardless of corpus size.
    */
  /** The q154 serving plan over an arbitrary [[graft.sources.IndexStore]]
    * — shared by the gated query and `IndexStreamSpec`, so the streamed
    * store serves through the exact code path the oracle gates.
    */
  private[graft] def bm25ServeFromIndex(s: SparkSession,
      store: graft.sources.IndexStore.Store): DataFrame = {
      val terms = Corpus.Bm25Terms
      val post = s.table(store.postings)
        .filter(col("tok").isin(terms: _*))
      val nd = s.table(store.manifest)
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("d"))
      val dfCols = terms.zipWithIndex.map { case (t, i) =>
        coalesce(max(when(col("tok") === t, col("df"))), lit(0L)).as(s"df$i")
      }
      val dfStats = post.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .agg(dfCols.head, dfCols.tail: _*)
      val perDoc = post.groupBy(col("doc_id"))
        .agg(max(col("dl")).as("dl"), terms.zipWithIndex.map { case (t, i) =>
          coalesce(max(when(col("tok") === t, col("tf"))), lit(0L))
            .as(s"tf$i")
        }: _*)
      val score = terms.indices.map { i =>
        (col(s"tf$i") * (lit(2) * col("n") - lit(2) * col(s"df$i") + 1) *
          col("d")).cast("double") /
          ((col(s"tf$i") * col("d") + col("dl") * col("n")) *
            (lit(2) * col(s"df$i") + 1)).cast("double")
      }.reduce(_ + _)
      perDoc.crossJoin(broadcast(nd)).crossJoin(broadcast(dfStats))
        .select(col("doc_id"), score.as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
  }

  val qBm25FromIndex: QuerySpec = QuerySpec(
    "q154_bm25_index",
    (s, dir) =>
      bm25ServeFromIndex(s, graft.sources.IndexStore.ensure(s, dir)),
    Corpus.qBm25TopK.oracle)

  /** q155's request batch — literal (query_id, terms) pairs, like a
    * serving tier's admission-bounded request frame (declared before
    * the spec: the q82 object-init-order rule). Query 5 carries a term
    * absent from the corpus (contributes nothing on both engines).
    */
  private[graft] val ServeQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("hash", "join"),
    2L -> Seq("vector", "scan", "table"),
    3L -> Seq("window", "sort"),
    4L -> Seq("stream", "batch", "filter"),
    5L -> Seq("query", "data", "nosuchtoken"),
    6L -> Seq("value"))

  /** q155 — BATCHED lexical serving from the persisted index: a frame
    * of term queries answered in ONE plan (the q143 batched-serving
    * discipline applied to the lexical half) — per query, the BM25
    * top-3 documents, scored with q93's rational-IDF core from
    * [[graft.sources.IndexStore]] postings. Per-(query, doc) scores sum
    * a variable number of term contributions, so the double sum rides
    * [[Exact.dsum]] (decimal-exact, order-insensitive — the q9 rule;
    * q93/q154 could stay row-level fixed-order, a batch of ragged
    * queries cannot).
    *
    * Scale shape: the postings scan is pruned to the request batch's
    * distinct terms (tok-bucketed literal isin); the query frame, the
    * per-term df row-set, and the (N, D) row all broadcast onto it;
    * one (query_id, doc_id) agg and a per-query rank window (bounded
    * partitions). Exchange volume is request-sized at any corpus size.
    */
  val qBm25ServeBatch: QuerySpec = QuerySpec(
    "q155_bm25_serve_batch",
    (s, dir) => {
      import s.implicits._
      val store = graft.sources.IndexStore.ensure(s, dir)
      val allTerms = ServeQueries.flatMap(_._2).distinct
      val qt = ServeQueries
        .flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("query_id", "tok")
      val post = s.table(store.postings)
        .filter(col("tok").isin(allTerms: _*))
      val dfT = post.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nd = s.table(store.manifest)
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("d"))
      val contrib =
        (col("tf") * (lit(2) * col("n") - lit(2) * col("df") + 1) *
          col("d")).cast("double") /
          ((col("tf") * col("d") + col("dl") * col("n")) *
            (lit(2) * col("df") + 1)).cast("double")
      val scored = post
        .join(broadcast(qt), Seq("tok"))
        .join(broadcast(dfT), Seq("tok"))
        .crossJoin(broadcast(nd))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(Exact.dsum(contrib).as("score"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("query_id"), col("doc_id"), col("rk"), col("score"))
    },
    Some(s"""WITH $bm25ServeBatchSqlCtes
            | SELECT query_id, doc_id, rk, score FROM lexb
            | WHERE rk <= 3""".stripMargin.replaceAll("\n", "")))

  /** The oracle's batched lexical-serving CTEs, ending in `lexb`
    * (query_id, doc_id, score, rk over all docs) — ONE definition
    * shared by the q155 and q173 oracles. DuckDB recomputes from raw
    * text (the q93/q154 store round-trip discipline).
    */
  private def bm25ServeBatchSqlCtes: String = {
    val qtValues = ServeQueries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    s"""b AS (SELECT doc_id,
       |   '[' || replace(text, ' ', '][') || ']' AS br FROM documents),
       | pd AS (SELECT doc_id, br,
       |   CAST((length(br) - length(replace(br, '][', ''))) / 2 + 1
       |     AS BIGINT) AS dl FROM b),
       | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |   CAST(SUM(dl) AS BIGINT) AS d FROM pd),
       | qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, tok
       |  FROM (VALUES $qtValues) v(query_id, tok)),
       | toks AS (SELECT DISTINCT tok FROM qt),
       | tft AS (SELECT t.tok, p.doc_id, p.dl,
       |   CAST((length(br) - length(replace(br, '[' || t.tok || ']', '')))
       |     / (length(t.tok) + 2) AS BIGINT) AS tf
       |  FROM pd p CROSS JOIN toks t),
       | dfv AS (SELECT tok, CAST(COUNT(*) FILTER (WHERE tf > 0)
       |    AS BIGINT) AS df FROM tft GROUP BY tok),
       | contrib AS (SELECT q.query_id, f.doc_id,
       |   CAST(f.tf * (2 * st.n - 2 * dfv.df + 1) * st.d AS DOUBLE) /
       |   CAST((f.tf * st.d + f.dl * st.n) * (2 * dfv.df + 1) AS DOUBLE)
       |     AS c
       |  FROM tft f JOIN qt q ON f.tok = q.tok
       |  JOIN dfv ON f.tok = dfv.tok, st WHERE f.tf > 0),
       | lexsc AS (SELECT query_id, doc_id, ${Exact.dsumSql("c")} AS score
       |  FROM contrib GROUP BY 1, 2),
       | lexb AS (SELECT query_id, doc_id, score,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |     ORDER BY score DESC, doc_id) AS BIGINT) AS rk FROM lexsc)"""
      .stripMargin.replaceAll("\n", "")
  }

  /** q166's metadata predicate — the allowed label set (declared before
    * the specs whose oracle SQL interpolates it: the q82
    * object-init-order rule). Two of ten labels ≈ 20% selectivity: a
    * filter tight enough to change the top-k, loose enough that a
    * 2-cluster probe still finds matches.
    */
  private[graft] val FilterLabels = Seq(1, 3)
  private val FilterLabelsSql = FilterLabels.mkString(", ")

  /** q166 — metadata-filtered ANN: the q26c pruned probe under a label
    * predicate (`label IN (1,3)`) — filtered vector search, the serving
    * feature every vector store ships (tenant / language / source
    * scoping). The filterable attribute lives IN the clustered layout
    * ([[Similarity.ensureClustered]] carries `label`), so the predicate
    * is a PUSHED parquet filter on the partition-pruned scan — never a
    * post-hoc join of candidate ids against a corpus-cardinality
    * attribute table, and never post-filtering an unfiltered top-k
    * (which silently returns < k results the moment the filter is
    * selective).
    *
    * Scale shape: catalog partition pruning to nprobe/K of the corpus,
    * then rowgroup-level label pushdown inside those partitions; one
    * codegen'd cosine per surviving row and a TakeOrdered(10).
    * `AnnPrunedSpec` pins both the partition filter and the pushed
    * label filter.
    */
  val qAnnFiltered: QuerySpec = QuerySpec(
    "q166_ann_filtered",
    (s, dir) => {
      val cents = Similarity.ensureTrained(s, dir)
      val table = Similarity.ensureClustered(s, dir)
      val q = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0)
        .select(Exact.quantize(col("embedding")).as("qe"))
        .head().getSeq[Long](0)
      val probeCids = Similarity.rankedCentroids(cents, q).take(2)
      s.table(table)
        .filter(col("cid").isin(probeCids: _*))
        .filter(col("label").isin(FilterLabels: _*))
        .select(col("vec_id"), col("label"),
          Exact.cosineFromQuantized(col("qe"), typedlit(q)).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""WITH ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | ${Similarity.annQuerySqlCtes}
            | SELECT fm.vec_id, em.label,
            |  ${Exact.cosineSql("fm.qe", "q.qqe")} AS cos_sim
            | FROM fm JOIN probe ON fm.cid = probe.cid AND probe.prk <= 2
            |  JOIN embeddings em ON fm.vec_id = em.vec_id, q
            | WHERE em.label IN ($FilterLabelsSql)
            | ORDER BY cos_sim DESC, fm.vec_id LIMIT 10""".stripMargin
      .replaceAll("\n", "")))

  /** q167 — filtered recall@10 at nprobe ∈ {2, 8}: |exact filtered
    * top-10 ∩ q166-shaped filtered probe top-10| / 10. THE metric that
    * makes filtered search honest: a selective predicate thins every
    * probed cluster, so recall at a fixed nprobe DROPS relative to the
    * unfiltered q60 curve — the deployment rule is "raise nprobe with
    * filter selectivity", and this query measures exactly that tradeoff
    * (nprobe = K = 8 scans every cluster and anchors recall at 1.0).
    *
    * Scale shape: the exact side is ONE filtered corpus scan collected
    * to a ≤10-id literal (the q60b discipline — a subplan unioned into
    * every branch would re-run per branch); each probe branch reads
    * only its nprobe partitions with the label filter pushed; the
    * intersection is a literal-isin filter on a 10-row frame.
    */
  val qFilteredRecall: QuerySpec = QuerySpec(
    "q167_filtered_recall",
    (s, dir) => {
      val cents = Similarity.ensureTrained(s, dir)
      val table = Similarity.ensureClustered(s, dir)
      val q = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0)
        .select(Exact.quantize(col("embedding")).as("qe"))
        .head().getSeq[Long](0)
      val ranked = Similarity.rankedCentroids(cents, q)
      val exactIds = Tables.load(s, dir, "embeddings")
        .filter(col("label").isin(FilterLabels: _*))
        .select(col("vec_id"),
          Exact.cosineFromQuantized(
            Exact.quantize(col("embedding")), typedlit(q)).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSeq
      Seq(2, 8).map { n =>
        s.table(table)
          .filter(col("cid").isin(ranked.take(n): _*))
          .filter(col("label").isin(FilterLabels: _*))
          .select(col("vec_id"),
            Exact.cosineFromQuantized(col("qe"), typedlit(q)).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
          .filter(col("vec_id").isin(exactIds: _*))
          .agg(count(lit(1)).as("hits"))
          .select(lit(n.toLong).as("nprobe"), col("hits"),
            (col("hits").cast("double") / lit(10.0d)).as("recall_at_10"))
      }.reduce(_ union _)
    },
    Some(s"""WITH ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | ${Similarity.annQuerySqlCtes},
            | fmf AS MATERIALIZED (SELECT fm.vec_id, fm.qe, fm.cid
            |  FROM fm JOIN embeddings em ON fm.vec_id = em.vec_id
            |  WHERE em.label IN ($FilterLabelsSql)),
            | ex AS MATERIALIZED (SELECT e.vec_id
            |  FROM e JOIN embeddings em ON e.vec_id = em.vec_id, q
            |  WHERE em.label IN ($FilterLabelsSql)
            |  ORDER BY ${Exact.cosineSql("e.qe", "q.qqe")} DESC, e.vec_id
            |  LIMIT 10),
            | s2 AS (SELECT fmf.vec_id FROM fmf
            |  JOIN probe ON fmf.cid = probe.cid AND probe.prk <= 2, q
            |  ORDER BY ${Exact.cosineSql("fmf.qe", "q.qqe")} DESC, fmf.vec_id
            |  LIMIT 10),
            | s8 AS (SELECT fmf.vec_id FROM fmf
            |  JOIN probe ON fmf.cid = probe.cid AND probe.prk <= 8, q
            |  ORDER BY ${Exact.cosineSql("fmf.qe", "q.qqe")} DESC, fmf.vec_id
            |  LIMIT 10)
            | SELECT CAST(2 AS BIGINT) AS nprobe,
            |  CAST(COUNT(*) AS BIGINT) AS hits,
            |  CAST(COUNT(*) AS DOUBLE) / 10.0 AS recall_at_10
            | FROM ex JOIN s2 ON ex.vec_id = s2.vec_id
            | UNION ALL SELECT CAST(8 AS BIGINT),
            |  CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) AS DOUBLE) / 10.0
            | FROM ex JOIN s8 ON ex.vec_id = s8.vec_id""".stripMargin
      .replaceAll("\n", "")))

  /** lcm(1..10) — a served rank r ≤ 10 contributes `MrrScale / r` as an
    * EXACT BIGINT, so the reciprocal rank is integer-gated (the RrfScale
    * discipline applied to the plain reciprocal).
    */
  private[graft] val MrrScale = 2520L

  /** q168 — serving MRR: per served query, the rank at which q143's
    * nprobe=2 top-10 surfaces the TRUE nearest non-self neighbor, and
    * the scaled reciprocal rank (0 when the probe missed it entirely).
    * recall@10 (q147) counts overlap anywhere in the list; MRR prices
    * WHERE the right answer lands — the metric a serving endpoint pages
    * on when re-ranking depth is the cost knob. Self-matches are
    * excluded from the ground truth (a corpus-member query trivially
    * retrieves itself at rank 1, which would gate nothing).
    *
    * Scale shape: the exact side is the q147 anchors-as-literals pass —
    * ONE corpus scan with the 5 query vectors as literals, exploded
    * map-side, per-query window top-1; the served side IS the gated
    * q143 plan; the final join matches a ≤5-row frame against a ≤50-row
    * frame. The one division is `2520 / rank`, exact for every rank ≤ 10.
    */
  val qServeMrr: QuerySpec = QuerySpec(
    "q168_serve_mrr",
    (s, dir) => {
      val served = qAnnServe.build(s, dir)
        .select(col("query_id"), col("vec_id").as("nn_id"), col("rnk"))
      val e = Tables.load(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qqe"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
      val qVecs = array(qs.map { case (_, v) => typedlit(v) }: _*)
      val qIds = typedlit(qs.map(_._1))
      val nn = e
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
        .select(col("vec_id"), col("qe"), posexplode(qVecs))
        .select(element_at(qIds, col("pos") + 1).as("query_id"), col("vec_id"),
          Exact.cosineFromQuantized(col("qe"), col("col")).as("cos_sim"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("vec_id").as("nn_id"))
      nn.join(served, Seq("query_id", "nn_id"), "left")
        .select(col("query_id"), col("nn_id"),
          coalesce(col("rnk"), lit(0L)).as("srv_rank"),
          when(col("rnk").isNotNull,
            (lit(MrrScale) / col("rnk")).cast("long"))
            .otherwise(lit(0L)).as("rr_scaled"))
    },
    Some(s"""WITH ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | $serveSqlCtes,
            | nn AS (SELECT query_id, vec_id AS nn_id FROM (
            |  SELECT qs.query_id, e.vec_id, ROW_NUMBER() OVER (
            |    PARTITION BY qs.query_id
            |    ORDER BY ${Exact.cosineSql("e.qe", "qs.qqe")} DESC, e.vec_id)
            |    AS rk
            |  FROM e, qs WHERE e.vec_id <> qs.query_id) WHERE rk = 1)
            | SELECT nn.query_id, nn.nn_id,
            |  CAST(COALESCE(srv.rnk, 0) AS BIGINT) AS srv_rank,
            |  CAST(CASE WHEN srv.rnk IS NULL THEN 0
            |   ELSE $MrrScale // srv.rnk END AS BIGINT) AS rr_scaled
            | FROM nn LEFT JOIN srv ON nn.query_id = srv.query_id
            |  AND nn.nn_id = srv.vec_id""".stripMargin.replaceAll("\n", "")))

  /** The query ids served by BOTH stacks: q155's term batch carries ids
    * 1–6 and q143's vector batch ids 0–4 — a hybrid endpoint fuses the
    * intersection (declared before the spec whose oracle interpolates
    * it: the q82 object-init-order rule).
    */
  private[graft] val HybridQueryIds = Seq(1L, 2L, 3L, 4L)
  private val HybridQueryIdsSql = HybridQueryIds.mkString(", ")

  /** q173 — batched hybrid serving: the request-batch form of q133's
    * single-request fusion, over the two BATCHED serving paths the
    * engine already gates — per query in the batch, RRF-fuse the q155
    * lexical top-3 (from the persisted inverted index) with the q143
    * dense top-10 (from the clustered ANN layout) and emit the fused
    * top-5 with both source ranks (NULL where a doc appears in only one
    * list). This is the plan a hybrid retrieval endpoint executes per
    * request batch over exactly the two incremental layouts
    * (IndexStream + AnnStream) this engine maintains.
    *
    * Scale shape: both inputs are the existing request-sized plans
    * (q155: postings pruned to the batch's terms; q143: partition-
    * pruned nprobe probe); the fusion is a full-outer join of two
    * ≤ |batch|·k row frames and a per-query rank window over ≤ 13
    * rows — O(batch · k) on top of the two retrievals regardless of
    * corpus size. RRF stays exact-integer via [[RrfScale]].
    */
  val qHybridServeBatch: QuerySpec = QuerySpec(
    "q173_hybrid_serve_batch",
    (s, dir) => {
      val lex = qBm25ServeBatch.build(s, dir)
        .filter(col("query_id").isin(HybridQueryIds: _*))
        .select(col("query_id"), col("doc_id"), col("rk").as("lex_rank"))
      val den = qAnnServe.build(s, dir)
        .filter(col("query_id").isin(HybridQueryIds: _*))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("rnk").as("dense_rank"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf_scaled").desc, col("doc_id"))
      lex.join(den, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"), col("lex_rank"),
          col("dense_rank"),
          (coalesce(expr(s"$RrfScale div ($RrfK + lex_rank)"), lit(0L)) +
            coalesce(expr(s"$RrfScale div ($RrfK + dense_rank)"), lit(0L)))
            .as("rrf_scaled"))
        .withColumn("frk", row_number().over(w).cast("long"))
        .filter(col("frk") <= 5)
    },
    Some(s"""WITH $bm25ServeBatchSqlCtes,
            | ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | $serveSqlCtes,
            | lexf AS (SELECT query_id, doc_id, rk FROM lexb
            |  WHERE rk <= 3 AND query_id IN ($HybridQueryIdsSql)),
            | denf AS (SELECT query_id, vec_id AS doc_id, rnk FROM srv
            |  WHERE query_id IN ($HybridQueryIdsSql)),
            | fused AS (SELECT COALESCE(l.query_id, d.query_id) AS query_id,
            |   COALESCE(l.doc_id, d.doc_id) AS doc_id,
            |   l.rk AS lex_rank, d.rnk AS dense_rank,
            |   CAST(COALESCE($RrfScale // ($RrfK + l.rk), 0) +
            |    COALESCE($RrfScale // ($RrfK + d.rnk), 0) AS BIGINT)
            |    AS rrf_scaled
            |  FROM lexf l FULL JOIN denf d
            |   ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
            | SELECT query_id, doc_id, lex_rank, dense_rank, rrf_scaled, frk
            | FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            |   ORDER BY rrf_scaled DESC, doc_id) AS BIGINT) AS frk
            |  FROM fused)
            | WHERE frk <= 5""".stripMargin.replaceAll("\n", "")))

  /** q184 — lexical/dense rank agreement via truncated rank-biased
    * overlap (Webber, Moffat & Zobel 2010, public literature): per
    * served query, |lex top-d ∩ dense top-d| at d ∈ {1,2,3} and the
    * depth-3 RBO at persistence p = 1/2 — the fusion DIAGNOSTIC next to
    * q173's fusion: low agreement means the two arms retrieve different
    * documents (fusion adds real coverage), RBO → 1 means the arms are
    * redundant and the second one is paying latency for nothing. With
    * p = 1/2 and depth 3 the RBO weight vector is exactly
    * (1/2)·(1, 1/2, 1/4)/d — common denominator 24 — so the score ships
    * as the EXACT integer `rbo_x24 = 12·ov₁ + 3·ov₂ + 2·ov₃` (24 ≡
    * identical top-3 prefixes), no floating point anywhere.
    *
    * Two pairs ship per query: `lex|dense` (the arm-independence
    * diagnostic — 0 on this corpus: synthetic text and embeddings are
    * unrelated, so the arms retrieve disjoint docs, exactly why q173's
    * fusion adds coverage) and `fused|dense` (how much the q173 fusion
    * REORDERS the dense arm — nonzero by construction, so the pair
    * doubles as the gate's control that the overlap machinery counts).
    *
    * Scale shape: all inputs are the existing request-sized serving
    * plans (q155 lexical, q143 dense, q173 fused); agreement is one
    * equi-join of ≤batch·6 vs ≤batch·10 frames, a per-(pair, query)
    * rollup, and a left join back to the literal pair×query grid so
    * zero-overlap rows report 0 rather than vanish. The rollup (one row
    * per pair and query) is the broadcast build side: a left outer join
    * can only build its right side, so a hint on the grid is dropped.
    */
  val qRankAgreement: QuerySpec = QuerySpec(
    "q184_rank_agreement",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // r19: the lexical and dense serving pipelines each fed TWO plan
      // branches (their own agreement arm AND the embedded q173 fusion,
      // which re-built both) — four serving-pipeline executions per
      // run. Flush each request-sized serve frame once and derive the
      // fused arm from the flushed reads with q173's exact tail
      // (identical expressions over identical inputs, so the fused
      // ranks cannot drift from the gated q173).
      val lexb = Scratch.flush(s, Scratch.dirTag("q184-lexb", dir),
        qBm25ServeBatch.build(s, dir))
      val srv = Scratch.flush(s, Scratch.dirTag("q184-srv", dir),
        qAnnServe.build(s, dir))
      val lex = lexb
        .filter(col("query_id").isin(HybridQueryIds: _*))
        .select(lit("lex|dense").as("pair"), col("query_id"),
          col("doc_id"), col("rk").as("ra"))
      val lexH = lexb
        .filter(col("query_id").isin(HybridQueryIds: _*))
        .select(col("query_id"), col("doc_id"), col("rk").as("lex_rank"))
      val denH = srv
        .filter(col("query_id").isin(HybridQueryIds: _*))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("rnk").as("dense_rank"))
      val wf = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf_scaled").desc, col("doc_id"))
      val fused = lexH.join(denH, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"),
          (coalesce(expr(s"$RrfScale div ($RrfK + lex_rank)"), lit(0L)) +
            coalesce(expr(s"$RrfScale div ($RrfK + dense_rank)"), lit(0L)))
            .as("rrf_scaled"))
        .withColumn("frk", row_number().over(wf).cast("long"))
        .filter(col("frk") <= 3)
        .select(lit("fused|dense").as("pair"), col("query_id"),
          col("doc_id"), col("frk").as("ra"))
      val den = srv
        .filter(col("query_id").isin(HybridQueryIds: _*))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("rnk").as("rb"))
      def ovAt(d: Int) =
        sum(when(col("ra") <= d && col("rb") <= d, 1L).otherwise(0L))
          .as(s"ov_at_$d")
      val ov = lex.union(fused).join(den, Seq("query_id", "doc_id"))
        .groupBy(col("pair"), col("query_id"))
        .agg(ovAt(1), ovAt(2), ovAt(3))
      val grid = Seq("lex|dense", "fused|dense")
        .flatMap(p => HybridQueryIds.map(q => (p, q)))
        .toDF("pair", "query_id")
      grid.join(broadcast(ov), Seq("pair", "query_id"), "left")
        .select(col("pair"), col("query_id"),
          coalesce(col("ov_at_1"), lit(0L)).as("ov_at_1"),
          coalesce(col("ov_at_2"), lit(0L)).as("ov_at_2"),
          coalesce(col("ov_at_3"), lit(0L)).as("ov_at_3"))
        .select(col("pair"), col("query_id"), col("ov_at_1"),
          col("ov_at_2"), col("ov_at_3"),
          (lit(12L) * col("ov_at_1") + lit(3L) * col("ov_at_2")
            + lit(2L) * col("ov_at_3")).as("rbo_x24"))
    },
    Some(s"""WITH $bm25ServeBatchSqlCtes,
            | ${Similarity.trainSqlCtes},
            | ${Similarity.annAssignSqlCtes},
            | $serveSqlCtes,
            | lexf AS MATERIALIZED (SELECT query_id, doc_id, rk FROM lexb
            |  WHERE rk <= 3 AND query_id IN ($HybridQueryIdsSql)),
            | denf AS MATERIALIZED (SELECT query_id, vec_id AS doc_id, rnk
            |  FROM srv WHERE query_id IN ($HybridQueryIdsSql)),
            | fsd AS (SELECT COALESCE(l.query_id, d.query_id) AS query_id,
            |   COALESCE(l.doc_id, d.doc_id) AS doc_id,
            |   CAST(COALESCE($RrfScale // ($RrfK + l.rk), 0) +
            |    COALESCE($RrfScale // ($RrfK + d.rnk), 0) AS BIGINT)
            |    AS rrf_scaled
            |  FROM lexf l FULL JOIN denf d
            |   ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
            | fr AS (SELECT 'fused|dense' AS pair, query_id, doc_id,
            |   frk AS ra FROM (SELECT *, ROW_NUMBER() OVER (
            |    PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id)
            |    AS frk FROM fsd) t WHERE frk <= 3),
            | arms AS (SELECT 'lex|dense' AS pair, query_id, doc_id,
            |   rk AS ra FROM lexf UNION ALL SELECT * FROM fr),
            | m AS (SELECT a.pair, a.query_id,
            |   CAST(SUM(CASE WHEN a.ra <= 1 AND d.rnk <= 1 THEN 1 ELSE 0
            |    END) AS BIGINT) AS ov1,
            |   CAST(SUM(CASE WHEN a.ra <= 2 AND d.rnk <= 2 THEN 1 ELSE 0
            |    END) AS BIGINT) AS ov2,
            |   CAST(SUM(CASE WHEN a.ra <= 3 AND d.rnk <= 3 THEN 1 ELSE 0
            |    END) AS BIGINT) AS ov3
            |  FROM arms a JOIN denf d
            |   ON a.query_id = d.query_id AND a.doc_id = d.doc_id
            |  GROUP BY a.pair, a.query_id),
            | qg AS (SELECT p.pair, CAST(q.query_id AS BIGINT) AS query_id
            |  FROM (SELECT unnest(['lex|dense', 'fused|dense']) AS pair) p
            |  CROSS JOIN (SELECT unnest([$HybridQueryIdsSql]) AS query_id) q)
            | SELECT qg.pair, qg.query_id,
            |  COALESCE(m.ov1, 0) AS ov_at_1,
            |  COALESCE(m.ov2, 0) AS ov_at_2,
            |  COALESCE(m.ov3, 0) AS ov_at_3,
            |  12 * COALESCE(m.ov1, 0) + 3 * COALESCE(m.ov2, 0)
            |   + 2 * COALESCE(m.ov3, 0) AS rbo_x24
            | FROM qg LEFT JOIN m
            |  ON qg.pair = m.pair AND qg.query_id = m.query_id""".stripMargin
      .replaceAll("\n", "")))

  val specs: Seq[QuerySpec] =
    Seq(qHybridRrf, qSemDedup, qSemDedupBounded, qSemDedupAgreement,
      qSemDedupMulti, qSemDedupBoundary, qSemDedupCc, qSemDedupCcAgreement,
      qCentroidMargin, qSemDedupYield,
      qAnnServe, qServeRecall,
      qBm25FromIndex, qBm25ServeBatch, qAnnFiltered, qFilteredRecall,
      qServeMrr, qHybridServeBatch, qRankAgreement)
}
