package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.{Exact, NearestCentroid, PqAdc, PqEncode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ: product-quantization codes over the trained IVF layout — the
  * piece that makes the 100 TB ANN story complete. IVF partition pruning
  * ([[Similarity.ensureClustered]]) bounds which fraction of the corpus a
  * probe READS; PQ bounds what each read row COSTS: instead of the full
  * 64×8-byte quantized vector, the probe's resident set is M=8 one-byte-
  * range codes per vector (~32× smaller), scored against the query with M
  * integer table lookups (asymmetric distance computation — Jégou et al.
  * 2011). All arithmetic is exact 64-bit integer squared-L2 over the
  * fixed-point domain, so sub-codebooks, codes, and ADC scores are
  * bit-identical across partitionings and vs the unrolled DuckDB oracle.
  *
  * Training mirrors [[Similarity.ensureTrained]]'s distributed Lloyd,
  * but per subspace and for a FIXED iteration count (the oracle unrolls
  * the same count — no convergence test needed because both sides run
  * the identical number of integer steps): per iteration ONE distributed
  * job (codegen'd [[PqEncode]] assignment with the codebook broadcast as
  * a literal, two explodes, partial-agg, one shuffle on (m, code, d)),
  * collecting only the M·K·ds summed sub-codebook (1024 longs).
  */
object ProductQuant {

  private[graft] val M = 8        // subspaces
  private[graft] val Ds = 8       // dims per subspace (M * Ds = 64)
  private[graft] val K = 16       // sub-centroids per subspace
  private[graft] val Iters = 6    // fixed Lloyd iterations (oracle unrolls)
  private val SweepNprobes = Seq(1, 2, 4, 8)

  private def dotL(a: Seq[Long], b: Seq[Long]): Long =
    a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum

  /** Driver-side integer squared-L2 (same arithmetic as [[PqEncode]]). */
  private def l2(a: Seq[Long], b: Seq[Long]): Long =
    a.iterator.zip(b.iterator).map { case (x, y) => (x - y) * (x - y) }.sum

  /** One fixed-count PQ training run: seeds are the vec_id<K vectors'
    * subspace slices; each iteration reassigns every (vector, subspace)
    * to its nearest sub-centroid (integer L2, smallest id on ties) and
    * floor-averages members per dimension (`Math.floorDiv` ≡ the
    * oracle's `(s - pmod(s, n)) / n` on negative sums). Empty
    * sub-clusters keep their previous centroid.
    */
  private def train(emb: DataFrame): Seq[Seq[Seq[Long]]] = {
    val cached = emb.persist() // scoped: tiny (N×dim longs), freed below
    try {
      val seeds: Seq[Seq[Long]] = cached.filter(col("vec_id") < K)
        .select(col("vec_id").cast("int"), col("qe")).collect().toSeq
        .sortBy(_.getInt(0)).map(_.getSeq[Long](1))
      var cb: Seq[Seq[Seq[Long]]] = (0 until M).map(m =>
        (0 until K).map(c => seeds(c).slice(m * Ds, (m + 1) * Ds)))
      for (_ <- 1 to Iters) {
        val sums = cached.withColumn("codes", PqEncode(col("qe"), cb))
          .select(col("qe"), posexplode(col("codes")))
          .withColumnRenamed("pos", "m").withColumnRenamed("col", "code")
          .select(col("m"), col("code"),
            posexplode(expr(s"slice(qe, m * $Ds + 1, $Ds)")))
          .groupBy(col("m"), col("code"), col("pos"))
          .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
          .collect()
          .map(r => ((r.getInt(0), r.getLong(1).toInt, r.getInt(2)),
            (r.getLong(3), r.getLong(4)))).toMap
        cb = (0 until M).map(m => (0 until K).map(c => (0 until Ds).map(d =>
          sums.get((m, c, d)) match {
            case Some((s, n)) => Math.floorDiv(s, n)
            case None => cb(m)(c)(d) // empty sub-cluster: centroid unchanged
          })))
      }
      cb
    } finally cached.unpersist()
  }

  private val trainedPq = new Scratch.Memo[String, Seq[Seq[Seq[Long]]]]

  /** The [m][c][d] sub-codebooks for `dir`'s embeddings (trained on
    * first use; Bench pre-trains in its untimed warmup — a codebook is a
    * LAYOUT, like the clustered table it accompanies).
    */
  def ensureTrained(s: SparkSession, dir: String): Seq[Seq[Seq[Long]]] =
    trainedPq(dir)(train(Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))))

  /** Codes rows for a (vec_id, embedding) frame under FROZEN codebooks —
    * one map-side pass: quantize, IVF-assign, PQ-encode. Both the batch
    * build and the streaming upsert go through this single definition,
    * which is what makes the incrementally-built store bit-identical to
    * a batch build (encoding is deterministic given the codebooks).
    */
  private def codeRows(emb: DataFrame, cents: Seq[Seq[Long]],
      cb: Seq[Seq[Seq[Long]]]): DataFrame =
    emb.select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
      .withColumn("cid", NearestCentroid(col("qe"), cents))
      .withColumn("codes", PqEncode(col("qe"), cb))
      .select(col("vec_id"), col("codes"), col("cid"))

  /** Materialize a codes table from an arbitrary (vec_id, embedding)
    * frame (empty frames give an empty store for incremental builds).
    */
  def build(s: SparkSession, emb: DataFrame, cents: Seq[Seq[Long]],
      cb: Seq[Seq[Seq[Long]]], tag: String): String = {
    val table = s"graft_pqcodes_$tag"
    graft.sources.Bucketed.dropStale(s, table)
    codeRows(emb, cents, cb)
      .write.partitionBy("cid").mode("overwrite").saveAsTable(table)
    table
  }

  /** IDEMPOTENT upsert for the at-least-once streaming front door: a
    * replayed micro-batch re-offers vec_ids already encoded; the
    * anti-join drops them instead of duplicating index rows. The store
    * side of that join reads only (vec_id) from the codes table — the
    * ~32×-shrunk form, not the vector corpus — and a vector's (cid,
    * codes) are deterministic under frozen codebooks, so replayed rows
    * are exact duplicates of what they would have appended.
    */
  def appendFresh(s: SparkSession, table: String, emb: DataFrame,
      cents: Seq[Seq[Long]], cb: Seq[Seq[Seq[Long]]]): Unit = {
    codeRows(emb, cents, cb)
      .join(s.table(table).select(col("vec_id")), Seq("vec_id"), "left_anti")
      .write.partitionBy("cid").mode("append").saveAsTable(table)
    // the write executes on the frame's BOUND session (in a streaming
    // foreachBatch that is the micro-batch clone, not `s`), and a
    // partitioned table's cached relation is per-session: without an
    // explicit refresh on the coordinating session, its next anti-join
    // (and any reader) lists the PRE-append files and silently misses
    // every appended batch — the cross-session relation-cache trap
    // Bucketed.compact documents, resurfacing for partitioned appends
    s.catalog.refreshTable(table)
  }

  private val codesTables = new Scratch.Memo[String, String]

  /** Persist `(vec_id, codes)` PARTITIONED BY the trained IVF cluster id
    * — the at-rest form of an IVF-PQ index: a probe reads only its
    * nprobe partitions (catalog pruning, as q26c), and each row it reads
    * is M codes instead of the full vector — the ~32× resident-set
    * shrink that lets a 100 TB corpus' probed share fit in memory.
    */
  def ensureCodes(s: SparkSession, dir: String): String =
    codesTables(dir)(build(s,
      Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      Similarity.ensureTrained(s, dir), ensureTrained(s, dir),
      Scratch.dirHash(dir)))

  // ---- oracle fragments ---------------------------------------------------

  /** DuckDB integer squared-L2 over two `len`-element BIGINT lists. */
  private[operators] def l2Sql(a: String, b: String, len: Int): String =
    s"CAST(list_sum(list_transform(range(1, ${len + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"

  /** The PQ training chain: subspace slices (`sv`), seed sub-codebook
    * (`p0`: vec_id<K sliced per subspace), then `Iters` unrolled Lloyd
    * steps as MATERIALIZED CTEs (each references its predecessor twice —
    * assignment and empty-cluster fallback — the iterative-oracle rule),
    * ending with sub-centroids in `p$Iters` and final codes in `codes`.
    * Requires `e` (vec_id, qe) in scope.
    */
  private def pqSqlCtes: String = {
    val assign = (prev: String) =>
      "SELECT a.vec_id, a.m, a.s8, a.pc FROM (" +
        "SELECT sv.vec_id, sv.m, sv.s8, c.pc, ROW_NUMBER() OVER (" +
        "PARTITION BY sv.vec_id, sv.m" +
        s" ORDER BY ${l2Sql("sv.s8", "c.c8", Ds)} ASC, c.pc ASC) AS rk" +
        s" FROM sv, $prev c WHERE sv.m = c.m) a WHERE a.rk = 1"
    val sb = new StringBuilder(
      s"sv AS MATERIALIZED (SELECT vec_id, m, qe[(m * $Ds + 1):(m * $Ds + $Ds)] AS s8" +
        s" FROM e, range(0, $M) t(m)), " +
        s"p0 AS MATERIALIZED (SELECT m, vec_id AS pc, qe[(m * $Ds + 1):(m * $Ds + $Ds)] AS c8" +
        s" FROM e, range(0, $M) t(m) WHERE vec_id < $K)")
    for (k <- 1 to Iters) {
      val prev = s"p${k - 1}"
      sb.append(
        s", p$k AS MATERIALIZED (SELECT p.m, p.pc, COALESCE(nc.c8, p.c8) AS c8" +
          s" FROM $prev p LEFT JOIN (" +
          "SELECT m, pc, list(CAST((s - (((s % n) + n) % n)) / n AS BIGINT) ORDER BY d) AS c8" +
          s" FROM (SELECT m, pc, d, SUM(s8[CAST(d AS INT) + 1]) AS s, COUNT(*) AS n" +
          s" FROM (${assign(prev)}), range(0, $Ds) t(d) GROUP BY m, pc, d)" +
          " GROUP BY m, pc) nc ON p.m = nc.m AND p.pc = nc.pc)")
    }
    sb.append(
      s", codes AS MATERIALIZED (SELECT vec_id, m, pc AS code FROM (${assign(s"p$Iters")}))")
    sb.toString
  }

  /** The re-rank shortlist size: ADC is a lossy ranking (quantization
    * error can push a true neighbor below rank 10), so the probe keeps
    * the top `Rerank` candidates by ADC and re-scores THOSE with exact
    * integer L2 over full vectors fetched from the probed partitions —
    * the standard IVF-PQ refinement (Jégou et al. 2011 §VI). 50 = 5×
    * the result size: the shortlist join stays trivially broadcast.
    */
  private val Rerank = 50

  /** q74 — the IVF-PQ recall curve beside q60b's full-vector one, for
    * nprobe ∈ {1,2,4,8}: `recall_at_10` of the raw ADC-scored probe and
    * `recall_rerank_at_10` after exact re-ranking of the ADC top-50,
    * both vs the EXACT integer-L2 top-10. The ADC pass reads only
    * (vec_id, codes) rows from the probed partitions (the ~32× resident
    * shrink); the re-rank fetches full vectors ONLY for the 50-row
    * shortlist via a broadcast equi-join against the SAME pruned
    * partitions of the clustered layout — never a second full scan. The
    * exact top-10 is collected to a 10-id literal (the q60b lesson: a
    * tiny deterministic result re-executed per union branch is cheaper
    * as a literal). Exact distances compose [[graft.functions.QDot]]:
    * ‖e−q‖² = e·e − 2·e·q + q·q, all 64-bit integer.
    */
  val qPqRecall: QuerySpec = QuerySpec(
    "q74_pq_recall",
    (s, dir) => {
      val cents = Similarity.ensureTrained(s, dir)
      val cb = ensureTrained(s, dir)
      val table = ensureCodes(s, dir)
      val fullTable = Similarity.ensureClustered(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
      val q = emb.filter(col("vec_id") === 0).select(col("qe"))
        .head().getSeq[Long](0)
      // probe order: integer L2 of the query to each IVF centroid
      // (asc, cid tiebreak) — the metric PQ approximates
      val ranked = cents.zipWithIndex
        .map { case (cq, cid) => (cid, l2(cq, q)) }
        .sortBy { case (cid, d) => (d, cid) }.map(_._1)
      // per-subspace query-to-centroid distance table (M×K integers)
      val dt: Seq[Seq[Long]] = (0 until M).map(m =>
        (0 until K).map(c => l2(q.slice(m * Ds, (m + 1) * Ds), cb(m)(c))))
      val qq = dotL(q, q)
      def exactDist(qe: org.apache.spark.sql.Column) =
        graft.functions.QDot(qe, qe) -
          lit(2L) * graft.functions.QDot(qe, typedlit(q)) + lit(qq)
      val exactIds = emb
        .select(col("vec_id"), exactDist(col("qe")).as("dist"))
        .orderBy(col("dist").asc, col("vec_id"))
        .limit(10).select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      SweepNprobes.map { n =>
        val scored = s.table(table)
          .filter(col("cid").isin(ranked.take(n): _*))
          .select(col("vec_id"), PqAdc(col("codes"), dt).as("adc"))
        val adcRecall = scored
          .orderBy(col("adc").asc, col("vec_id")).limit(10)
          .filter(col("vec_id").isin(exactIds: _*))
          .agg((count(lit(1)).cast("double") / 10.0).as("recall_at_10"))
        val shortlist = scored
          .orderBy(col("adc").asc, col("vec_id")).limit(Rerank)
          .select(col("vec_id"))
        val rerankRecall = broadcast(shortlist)
          .join(s.table(fullTable).filter(col("cid").isin(ranked.take(n): _*)),
            "vec_id")
          .select(col("vec_id"), exactDist(col("qe")).as("dist"))
          .orderBy(col("dist").asc, col("vec_id")).limit(10)
          .filter(col("vec_id").isin(exactIds: _*))
          .agg((count(lit(1)).cast("double") / 10.0).as("recall_rerank_at_10"))
        adcRecall.crossJoin(rerankRecall) // two single-row aggregates
          .select(lit(n).as("nprobe"), col("recall_at_10"),
            col("recall_rerank_at_10"))
      }.reduce(_ union _)
    },
    Some {
      val pqBranches = SweepNprobes.map { n =>
        s" cand$n AS MATERIALIZED (SELECT adc.vec_id, adc.adc FROM adc JOIN probe" +
          s" ON adc.cid = probe.cid AND probe.prk <= $n)," +
          s" pqtop$n AS (SELECT vec_id FROM cand$n" +
          s" ORDER BY adc ASC, vec_id ASC LIMIT 10)," +
          s" rr$n AS (SELECT e.vec_id FROM (SELECT vec_id FROM cand$n" +
          s" ORDER BY adc ASC, vec_id ASC LIMIT $Rerank) sl" +
          s" JOIN e ON sl.vec_id = e.vec_id, q" +
          s" ORDER BY ${l2Sql("e.qe", "q.qqe", M * Ds)} ASC, e.vec_id LIMIT 10)"
      }.mkString(",")
      val branches = SweepNprobes.map { n =>
        s"SELECT $n AS nprobe, (SELECT CAST(COUNT(*) AS DOUBLE) / 10.0" +
          s" FROM ex JOIN pqtop$n ON ex.vec_id = pqtop$n.vec_id) AS recall_at_10," +
          s" (SELECT CAST(COUNT(*) AS DOUBLE) / 10.0" +
          s" FROM ex JOIN rr$n ON ex.vec_id = rr$n.vec_id) AS recall_rerank_at_10"
      }.mkString(" UNION ALL ")
      s"""WITH ${Similarity.trainSqlCtes},
         | $pqSqlCtes,
         | q AS (SELECT qe AS qqe FROM e WHERE vec_id = 0),
         | fa AS (SELECT e.vec_id, e.qe, c.cid, ROW_NUMBER() OVER (
         |   PARTITION BY e.vec_id
         |   ORDER BY ${Exact.cosineSql("e.qe", "c.cqe")} DESC, c.cid) AS rk
         |  FROM e, c${Similarity.TrainIters} c),
         | fm AS MATERIALIZED (SELECT vec_id, cid FROM fa WHERE rk = 1),
         | probe AS MATERIALIZED (SELECT c.cid, ROW_NUMBER() OVER (
         |   ORDER BY ${l2Sql("c.cqe", "q.qqe", M * Ds)} ASC, c.cid) AS prk
         |  FROM c${Similarity.TrainIters} c, q),
         | qsv AS (SELECT m, qqe[(m * $Ds + 1):(m * $Ds + $Ds)] AS s8
         |  FROM q, range(0, $M) t(m)),
         | dt AS MATERIALIZED (SELECT c.m, c.pc, ${l2Sql("qs.s8", "c.c8", Ds)} AS dist
         |  FROM p$Iters c JOIN qsv qs ON c.m = qs.m),
         | adc AS MATERIALIZED (SELECT fm.vec_id, fm.cid, CAST(SUM(dt.dist) AS BIGINT) AS adc
         |  FROM fm JOIN codes ON fm.vec_id = codes.vec_id
         |   JOIN dt ON codes.m = dt.m AND codes.code = dt.pc
         |  GROUP BY fm.vec_id, fm.cid),
         | ex AS MATERIALIZED (SELECT e.vec_id,
         |   ${l2Sql("e.qe", "q.qqe", M * Ds)} AS dist
         |  FROM e, q ORDER BY dist ASC, vec_id LIMIT 10),
         |$pqBranches
         | $branches""".stripMargin.replaceAll("\n", "")
    })

  /** The shortlist depths q180 sweeps — brackets the fixed `Rerank` (50)
    * q74 ships as policy.
    */
  private val RerankDepths = Seq(10, 20, 50, 100)

  /** q180 — ADC rerank-depth curve: recall@10 after exact-reranking the
    * ADC top-k′ shortlist, for k′ ∈ {10, 20, 50, 100} at fixed
    * nprobe = 2 — the OTHER serving knob next to q74's nprobe sweep.
    * PQ scores are lossy, so the true top-10 hides below rank 10 in ADC
    * order; the shortlist depth buys it back at the cost of k′ exact
    * distance evaluations per query. This curve is the measurement a
    * deployment reads to pick the smallest k′ clearing its recall
    * target ("k′ = 50 recovers exact-search quality; 10 does not").
    *
    * Scale shape: q74's exact machinery unchanged — exact side one
    * scan → 10-id literal; each depth is a TakeOrdered(k′) over the
    * pruned ADC scan, the ≤k′-row shortlist broadcast against the
    * pruned full-vector partitions, and a TakeOrdered(10) re-rank.
    * Request-sized everything after the ADC scan.
    */
  val qRerankDepth: QuerySpec = QuerySpec(
    "q180_rerank_depth",
    (s, dir) => {
      val cents = Similarity.ensureTrained(s, dir)
      val cb = ensureTrained(s, dir)
      val table = ensureCodes(s, dir)
      val fullTable = Similarity.ensureClustered(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
      val q = emb.filter(col("vec_id") === 0).select(col("qe"))
        .head().getSeq[Long](0)
      val ranked = cents.zipWithIndex
        .map { case (cq, cid) => (cid, l2(cq, q)) }
        .sortBy { case (cid, d) => (d, cid) }.map(_._1)
      val dt: Seq[Seq[Long]] = (0 until M).map(m =>
        (0 until K).map(c => l2(q.slice(m * Ds, (m + 1) * Ds), cb(m)(c))))
      val qq = dotL(q, q)
      def exactDist(qe: org.apache.spark.sql.Column) =
        graft.functions.QDot(qe, qe) -
          lit(2L) * graft.functions.QDot(qe, typedlit(q)) + lit(qq)
      val exactIds = emb
        .select(col("vec_id"), exactDist(col("qe")).as("dist"))
        .orderBy(col("dist").asc, col("vec_id"))
        .limit(10).select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val probeCids = ranked.take(2)
      val scored = s.table(table)
        .filter(col("cid").isin(probeCids: _*))
        .select(col("vec_id"), PqAdc(col("codes"), dt).as("adc"))
      RerankDepths.map { d =>
        val shortlist = scored
          .orderBy(col("adc").asc, col("vec_id")).limit(d)
          .select(col("vec_id"))
        broadcast(shortlist)
          .join(s.table(fullTable).filter(col("cid").isin(probeCids: _*)),
            "vec_id")
          .select(col("vec_id"), exactDist(col("qe")).as("dist"))
          .orderBy(col("dist").asc, col("vec_id")).limit(10)
          .filter(col("vec_id").isin(exactIds: _*))
          .agg((count(lit(1)).cast("double") / 10.0).as("recall_at_10"))
          .select(lit(d).as("rerank_k"), col("recall_at_10"))
      }.reduce(_ union _)
    },
    Some {
      val rrCtes = RerankDepths.map { d =>
        s" rr$d AS (SELECT e.vec_id FROM (SELECT vec_id FROM cand" +
          s" ORDER BY adc ASC, vec_id ASC LIMIT $d) sl" +
          s" JOIN e ON sl.vec_id = e.vec_id, q" +
          s" ORDER BY ${l2Sql("e.qe", "q.qqe", M * Ds)} ASC, e.vec_id LIMIT 10)"
      }.mkString(",")
      val branches = RerankDepths.map { d =>
        s"SELECT $d AS rerank_k, (SELECT CAST(COUNT(*) AS DOUBLE) / 10.0" +
          s" FROM ex JOIN rr$d ON ex.vec_id = rr$d.vec_id) AS recall_at_10"
      }.mkString(" UNION ALL ")
      s"""WITH ${Similarity.trainSqlCtes},
         | $pqSqlCtes,
         | q AS (SELECT qe AS qqe FROM e WHERE vec_id = 0),
         | fa AS (SELECT e.vec_id, e.qe, c.cid, ROW_NUMBER() OVER (
         |   PARTITION BY e.vec_id
         |   ORDER BY ${Exact.cosineSql("e.qe", "c.cqe")} DESC, c.cid) AS rk
         |  FROM e, c${Similarity.TrainIters} c),
         | fm AS MATERIALIZED (SELECT vec_id, cid FROM fa WHERE rk = 1),
         | probe AS MATERIALIZED (SELECT c.cid, ROW_NUMBER() OVER (
         |   ORDER BY ${l2Sql("c.cqe", "q.qqe", M * Ds)} ASC, c.cid) AS prk
         |  FROM c${Similarity.TrainIters} c, q),
         | qsv AS (SELECT m, qqe[(m * $Ds + 1):(m * $Ds + $Ds)] AS s8
         |  FROM q, range(0, $M) t(m)),
         | dt AS MATERIALIZED (SELECT c.m, c.pc, ${l2Sql("qs.s8", "c.c8", Ds)} AS dist
         |  FROM p$Iters c JOIN qsv qs ON c.m = qs.m),
         | adc AS MATERIALIZED (SELECT fm.vec_id, fm.cid, CAST(SUM(dt.dist) AS BIGINT) AS adc
         |  FROM fm JOIN codes ON fm.vec_id = codes.vec_id
         |   JOIN dt ON codes.m = dt.m AND codes.code = dt.pc
         |  GROUP BY fm.vec_id, fm.cid),
         | ex AS MATERIALIZED (SELECT e.vec_id,
         |   ${l2Sql("e.qe", "q.qqe", M * Ds)} AS dist
         |  FROM e, q ORDER BY dist ASC, vec_id LIMIT 10),
         | cand AS MATERIALIZED (SELECT adc.vec_id, adc.adc FROM adc JOIN probe
         |  ON adc.cid = probe.cid AND probe.prk <= 2),
         |$rrCtes
         | $branches""".stripMargin.replaceAll("\n", "")
    })

  val specs: Seq[QuerySpec] = Seq(qPqRecall, qRerankDepth)
}
