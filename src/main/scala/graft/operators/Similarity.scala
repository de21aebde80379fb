package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.{Exact, NearestCentroid}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (ARRAY<FLOAT>, dim 64).
  *
  * All cosine math runs on fixed-point-quantized vectors ([[Exact]]):
  * integer dot products are associative and overflow-free, so scores are
  * bit-identical across partitionings and vs the DuckDB oracle.
  *
  * The operator family:
  *  - q19: brute-force top-k scan (the correctness baseline — linear, no
  *    shuffle, embarrassingly parallel at 100 TB);
  *  - q25: BANDED sign-LSH near-duplicate pairs (candidate pairs only
  *    from per-band equi-joins — never all-pairs);
  *  - q26/q51: IVF-style ANN probe + the Lloyd training step (centroids
  *    broadcast, map-side codegen'd argmax);
  *  - q26b: the probe against the CONVERGED codebook ([[ensureTrained]]);
  *  - q26c: the probe through the clustered-at-rest layout — vectors
  *    partitioned by cid, reads pruned to nprobe/K ([[ensureClustered]]);
  *  - q60: recall@10 of the approximate path vs the exact scan.
  */
object Similarity {

  // ---- deterministic banded sign-LSH hyperplanes -------------------------
  // Integer hyperplane weights derived from an LCG on (plane, dim) — the
  // exact same closed form is evaluated in the DuckDB oracle, so band
  // assignments agree bit-for-bit. |w| < 2^15, |q| < 2^21, dim 64 → the
  // integer dot stays far inside 63 bits.
  //
  // BANDED (4 bands × 16 planes), not one flat bucket id: a single 8-bit
  // bucket space (256 ids) makes within-bucket pairing grow ~N²/256 — a
  // scale-killer at 100 TB. With 2^16 ids PER BAND, candidate volume
  // stays near-linear in N (pairs come from 4 band equi-joins, q23's
  // shape), and OR-ing 4 bands amplifies recall for true near-dups.
  private[graft] val NumBands = 4
  private[graft] val PlanesPerBand = 16
  private val Dim = 64
  private def planeWeight(j: Int, d: Int): Long =
    ((1103515245L * (j * Dim + d) + 12345L) % 65536L) - 32768L

  /** Integer dot of a quantized embedding with hyperplane j — codegen'd
    * [[Exact.qdot]] against a literal weight array.
    */
  private def planeDot(qe: Column, j: Int): Column =
    Exact.qdot(qe, typedlit((0 until Dim).map(d => planeWeight(j, d))))

  /** Band hash for band `b`: 16 sign bits of hyperplane dots (planes
    * b*16 … b*16+15) → an id in [0, 2^16).
    */
  private[graft] def bandHashCol(qe: Column, b: Int): Column =
    (0 until PlanesPerBand).map(i =>
      when(planeDot(qe, b * PlanesPerBand + i) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Explode a (…, qe) frame to one row per band: (…, qe, band, bh). */
  private[graft] def withBandRows(df: DataFrame): DataFrame =
    df.select(col("*"),
        posexplode(array((0 until NumBands).map(b => bandHashCol(col("qe"), b)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")

  /** Driver-side exact integer dot (same arithmetic as [[Exact.qdot]]). */
  private def dotL(a: Seq[Long], b: Seq[Long]): Long =
    a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum

  /** The query's centroid ranking (cosine desc, cid asc), driver-side
    * over the tiny codebook — the ONE definition of the probe order,
    * shared by q26b/q26c/q60b so the cosine convention and tiebreak stay
    * in lockstep with the oracle's ROW_NUMBER ordering.
    */
  private[graft] def rankedCentroids(cents: Seq[Seq[Long]], q: Seq[Long]): Seq[Int] = {
    val qn = math.sqrt(dotL(q, q).toDouble)
    cents.zipWithIndex
      .map { case (cq, cid) =>
        (cid, dotL(cq, q).toDouble / (math.sqrt(dotL(cq, cq).toDouble) * qn))
      }
      .sortBy { case (cid, c) => (-c, cid) }.map(_._1)
  }

  /** DuckDB band-hash over `qe` for the band variable `bv` (a BIGINT
    * column from `range(0, NumBands)`). Lambda vars `i`/`d` are distinct
    * from each other and from `bv` (the documented shadowing gotcha).
    */
  private[graft] def bandHashSql(qe: String, bv: String): String =
    s"""list_sum(list_transform(range(0, $PlanesPerBand), i -> CASE WHEN
       | list_sum(list_transform(range(0, $Dim), d ->
       |   $qe[d + 1] * (((1103515245 * (($bv * $PlanesPerBand + i) * $Dim + d) + 12345) % 65536) - 32768))) > 0
       | THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END))""".stripMargin.replaceAll("\n", "")

  /** Q19 — brute-force cosine top-k against the vec_id=0 query vector.
    * The single-row query vector is inlined as a literal (at cluster scale:
    * a broadcast), so the scan is one map-side pass + TakeOrdered.
    */
  val q19CosineTopK: QuerySpec = QuerySpec(
    "q19_cosine_topk",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      emb.select(
          col("vec_id"),
          Exact.cosine(col("embedding"), typedlit(q)).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    Some {
      val qe = "ev"
      val qv = "qv"
      s"""WITH q AS (SELECT ${Exact.quantizeSql("embedding")} AS qv
         | FROM embeddings WHERE vec_id = 0),
         | e AS (SELECT vec_id, ${Exact.quantizeSql("embedding")} AS ev FROM embeddings)
         | SELECT vec_id, ${Exact.cosineSql(qe, qv)} AS cos_sim FROM e, q
         | ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin.replaceAll("\n", "")
    })

  /** Embedding-cosine near-duplicate pairs via BANDED sign-LSH: pairs are
    * generated ONLY from per-band equi-joins on (band, band-hash) —
    * shuffle-partitionable, no cartesian product, 2^16 ids per band so
    * candidate volume stays near-linear in N — then exact-cosine
    * filtered. A pair colliding in several bands dedups through the
    * final DISTINCT (cos_sim is deterministic per pair, so the tuple
    * collapses exactly). The quantized vector rides along the band rows
    * (4 × ~0.5 KB per vector) to keep verification join-free; at extreme
    * dims the q23 alternative (bare candidate ids, vectors re-fetched by
    * two hash joins) trades that shuffle weight for join depth.
    */
  val qEmbedNearDup: QuerySpec = QuerySpec(
    "q25_embed_neardup",
    (s, dir) => {
      val b = withBandRows(Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe")))
      val a = b.select(col("vec_id").as("vec_id_1"), col("qe").as("qe1"),
        col("band"), col("bh"))
      val c = b.select(col("vec_id").as("vec_id_2"), col("qe").as("qe2"),
        col("band").as("band2"), col("bh").as("bh2"))
      a.join(c, col("band") === col("band2") && col("bh") === col("bh2")
          && col("vec_id_1") < col("vec_id_2"))
        .select(col("vec_id_1"), col("vec_id_2"),
          Exact.cosineFromQuantized(col("qe1"), col("qe2")).as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
        .distinct()
    },
    Some(s"""WITH b AS (SELECT vec_id, ${Exact.quantizeSql("embedding")} AS qe
            | FROM embeddings),
            | bb AS (SELECT vec_id, qe, t.band AS band,
            |   ${bandHashSql("qe", "t.band")} AS bh
            |  FROM b, range(0, $NumBands) t(band))
            | SELECT DISTINCT a.vec_id AS vec_id_1, c.vec_id AS vec_id_2,
            | ${Exact.cosineSql("a.qe", "c.qe")} AS cos_sim
            | FROM bb a JOIN bb c ON a.band = c.band AND a.bh = c.bh
            |   AND a.vec_id < c.vec_id
            | WHERE ${Exact.cosineSql("a.qe", "c.qe")} >= 0.3""".stripMargin.replaceAll("\n", "")))

  /** Bucket-occupancy cap for q138: buckets holding more members than
    * this are dropped from candidate generation. The 16-plane band
    * hashes fragment even clustered corpora finely (sf0.01's top
    * occupancy is 14, sf0.1's 28), so the gate value sits at 8 to
    * exercise both kept and dropped buckets on the gate corpus; a
    * production deployment sets it orders of magnitude higher — the
    * guard exists for the DEGENERATE bucket (template embeddings, zero
    * vectors, a dead model head), not the healthy tail.
    */
  private[graft] val MaxBucketOcc = 8L

  /** q138 — q25 with a HOT-BUCKET guard: band buckets whose occupancy
    * exceeds [[MaxBucketOcc]] are excluded from candidate generation
    * (both sides — a capped bucket contributes NO pairs). This is the
    * engine's standing cap discipline (MaxSpanDf on spans, BoilerDf on
    * shingles, q137's subgroups on clusters) applied to the embedding-
    * LSH path, answering the hazard q91 monitors on the MinHash side:
    * one degenerate direction (template embeddings, zero vectors, a
    * dead model head) floods a bucket and turns the band self-join
    * quadratic. The sf1 probe measured the uncapped pair set itself
    * growing quadratically at τ = 0.3 on clustered data; under the cap,
    * per-bucket work is ≤ C(cap, 2) and total candidate volume is
    * ≤ N·NumBands·cap/2 — linear in N at any scale. The price is
    * recall inside hot buckets only (members of a >cap bucket can
    * still pair through their OTHER bands — the multi-band safety net).
    *
    * Scale shape: occupancy is a window count over the SAME (band, bh)
    * shuffle the pair join needs (no second aggregate input), the
    * filter is map-side after it, and the join/verify/distinct chain is
    * exactly q25's.
    */
  val qEmbedNearDupCapped: QuerySpec = QuerySpec(
    "q138_neardup_capped",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bh"))
      val b = withBandRows(Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe")))
        .withColumn("occ", count(lit(1)).over(w))
        .filter(col("occ") <= MaxBucketOcc)
      val a = b.select(col("vec_id").as("vec_id_1"), col("qe").as("qe1"),
        col("band"), col("bh"))
      val c = b.select(col("vec_id").as("vec_id_2"), col("qe").as("qe2"),
        col("band").as("band2"), col("bh").as("bh2"))
      a.join(c, col("band") === col("band2") && col("bh") === col("bh2")
          && col("vec_id_1") < col("vec_id_2"))
        .select(col("vec_id_1"), col("vec_id_2"),
          Exact.cosineFromQuantized(col("qe1"), col("qe2")).as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
        .distinct()
    },
    Some(s"""WITH b AS (SELECT vec_id, ${Exact.quantizeSql("embedding")} AS qe
            | FROM embeddings),
            | bb AS (SELECT vec_id, qe, t.band AS band,
            |   ${bandHashSql("qe", "t.band")} AS bh
            |  FROM b, range(0, $NumBands) t(band)),
            | k AS (SELECT * FROM (SELECT vec_id, qe, band, bh,
            |   COUNT(*) OVER (PARTITION BY band, bh) AS occ FROM bb)
            |  WHERE occ <= $MaxBucketOcc)
            | SELECT DISTINCT a.vec_id AS vec_id_1, c.vec_id AS vec_id_2,
            | ${Exact.cosineSql("a.qe", "c.qe")} AS cos_sim
            | FROM k a JOIN k c ON a.band = c.band AND a.bh = c.bh
            |   AND a.vec_id < c.vec_id
            | WHERE ${Exact.cosineSql("a.qe", "c.qe")} >= 0.3""".stripMargin
      .replaceAll("\n", "")))

  /** IVF-style ANN: K=8 fixed centroids (vec_id < 8), every vector is
    * assigned to its nearest centroid in one map-side pass, the query
    * probes its 2 best clusters, brute-force only inside them. This is
    * the 100 TB shape: the codebook (tiny, fixed) is collected once and
    * inlined as literals — the broadcast every IVF implementation does —
    * so assignment is a pure per-row argmax with ZERO joins and ZERO
    * shuffles; the full-corpus scan cost is replaced by nprobe/K of the
    * data, and the only exchange left is the final TakeOrdered(10).
    */
  val qAnnIvf: QuerySpec = QuerySpec(
    "q26_ann_ivf",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
      // the codebook: K=8 quantized centroid vectors, collected driver-side
      val cents: Seq[(Int, Seq[Long], Double)] = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int"), col("qe")).collect().toSeq
        .map { r =>
          val cq = r.getSeq[Long](1)
          (r.getInt(0), cq, math.sqrt(dotL(cq, cq).toDouble))
        }.sortBy(_._1)
      val q = cents.find(_._1 == 0).get._2
      val qlit = typedlit(q)
      // probe set: the query's 2 best centroids (cosine desc, cid asc),
      // computed driver-side over the 8-row codebook with the exact same
      // integer/double arithmetic the engine uses
      val qn = math.sqrt(dotL(q, q).toDouble)
      val probeCids = cents
        .map { case (cid, cq, cn) => (cid, dotL(cq, q).toDouble / (cn * qn)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(2).map(_._1).toSet
      // per-row nearest-centroid argmax by (cosine desc, cid asc) in ONE
      // codegen'd expression: the codebook is tiny so it travels as a
      // literal, and the quantized vector is read exactly once per row
      // (a greatest-over-structs formulation re-evaluated quantize per
      // centroid occurrence after filter pushdown — 17× per row)
      emb.withColumn("cid", NearestCentroid(col("qe"), cents.map(_._2)))
        .filter(col("cid").isin(probeCids.toSeq: _*))
        .select(col("vec_id"),
          Exact.cosineFromQuantized(col("qe"), qlit).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""WITH e AS (SELECT vec_id, ${Exact.quantizeSql("embedding")} AS qe
            | FROM embeddings),
            | c AS (SELECT vec_id AS cid, qe AS cqe FROM e WHERE vec_id < 8),
            | q AS (SELECT qe AS qqe FROM e WHERE vec_id = 0),
            | assign AS (SELECT e.vec_id, e.qe, c.cid, ROW_NUMBER() OVER (
            |   PARTITION BY e.vec_id
            |   ORDER BY ${Exact.cosineSql("e.qe", "c.cqe")} DESC, c.cid) AS rk
            |  FROM e, c),
            | a2 AS (SELECT vec_id, qe, cid FROM assign WHERE rk = 1),
            | probe AS (SELECT cid, ROW_NUMBER() OVER (
            |   ORDER BY ${Exact.cosineSql("c.cqe", "q.qqe")} DESC, cid) AS prk FROM c, q)
            | SELECT a2.vec_id, ${Exact.cosineSql("a2.qe", "q.qqe")} AS cos_sim
            | FROM a2 JOIN probe ON a2.cid = probe.cid AND probe.prk <= 2, q
            | ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin.replaceAll("\n", "")))

  /** q51 — one Lloyd (k-means) step: the codebook-TRAINING half of IVF
    * (q26 consumes a codebook; this is the iteration that produces one).
    * Every vector is assigned to its nearest centroid by the same
    * codegen'd map-side argmax as q26 (broadcast codebook, zero joins,
    * zero shuffles), then centroids are recomputed as the element-wise
    * FLOOR-average of their members' quantized coordinates — integer
    * floor via `(s - pmod(s, n)) / n`, so both engines agree bit-exactly
    * even on negative sums (a plain `/`+trunc or `div` would round
    * toward zero and diverge from DuckDB's floor semantics).
    *
    * Output is exploded to (cid, d, cval) scalar rows (the q22
    * convention — the compare never depends on array encodings). Scale
    * shape: explode ×dim feeds map-side partial aggregation before the
    * single shuffle on (cid, d) — K×dim groups; a full k-means run is
    * this step iterated with the new codebook re-collected (tiny) per
    * round.
    */
  val qKmeansStep: QuerySpec = QuerySpec(
    "q51_kmeans_step",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
      val cents: Seq[Seq[Long]] = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int"), col("qe")).collect().toSeq
        .sortBy(_.getInt(0)).map(_.getSeq[Long](1))
      emb.withColumn("cid", NearestCentroid(col("qe"), cents))
        .select(col("cid"), posexplode(col("qe")))
        .select(col("cid"), col("pos").cast("long").as("d"), col("col").as("v"))
        .groupBy(col("cid"), col("d"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .select(col("cid"), col("d"),
          ((col("s") - pmod(col("s"), col("n"))) / col("n"))
            .cast("long").as("cval"))
    },
    Some(s"""WITH e AS (SELECT vec_id, ${Exact.quantizeSql("embedding")} AS qe
            | FROM embeddings),
            | c AS (SELECT vec_id AS cid, qe AS cqe FROM e WHERE vec_id < 8),
            | assign AS (SELECT e.vec_id, e.qe, c.cid, ROW_NUMBER() OVER (
            |   PARTITION BY e.vec_id
            |   ORDER BY ${Exact.cosineSql("e.qe", "c.cqe")} DESC, c.cid) AS rk
            |  FROM e, c),
            | a1 AS (SELECT vec_id, qe, cid FROM assign WHERE rk = 1),
            | sums AS (SELECT cid, d, SUM(qe[CAST(d AS INT) + 1]) AS s, COUNT(*) AS n
            |  FROM a1, range(0, $Dim) t(d) GROUP BY cid, d)
            | SELECT cid, d, CAST((s - (((s % n) + n) % n)) / n AS BIGINT) AS cval
            | FROM sums""".stripMargin.replaceAll("\n", "")))

  // ---- trained IVF codebook (q51's Lloyd step iterated to fixpoint) ------

  /** Iteration cap shared by the trainer and its unrolled oracle. The
    * loop exits at the FIXPOINT (usually far earlier); the oracle always
    * unrolls the full cap, which is equivalent because a converged
    * Lloyd step is a no-op — extra oracle iterations reproduce the same
    * centroids bit-for-bit (all-integer floor-average updates).
    */
  private[graft] val TrainIters = 40
  private val K = 8

  /** Lloyd to convergence over (vec_id, qe) rows, seeded with the
    * vec_id<8 vectors. Per iteration ONE distributed job: map-side
    * codegen'd nearest-centroid argmax (broadcast codebook — zero
    * joins), explode, partial-agg, one shuffle on (cid, d); the driver
    * collects only the K×dim summed codebook (512 longs — the same
    * tiny-codebook collect q26 does, and what every distributed k-means
    * does per round). Empty clusters keep their previous centroid.
    * Floor-average via `Math.floorDiv` ≡ the oracle's
    * `(s - pmod(s, n)) / n` on negative sums.
    */
  private def train(emb: DataFrame): Seq[Seq[Long]] = {
    val cached = emb.persist() // scoped: tiny (N×dim longs), freed below
    try {
      var cents: Seq[Seq[Long]] = cached.filter(col("vec_id") < K)
        .select(col("vec_id").cast("int"), col("qe")).collect().toSeq
        .sortBy(_.getInt(0)).map(_.getSeq[Long](1))
      var iter = 0
      var moved = true
      while (moved && iter < TrainIters) {
        val sums = cached.withColumn("cid", NearestCentroid(col("qe"), cents))
          .select(col("cid"), posexplode(col("qe")))
          .groupBy(col("cid"), col("pos"))
          .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
          .collect()
          .groupBy(_.getInt(0))
        val next = (0 until K).map { cid =>
          sums.get(cid) match {
            case None => cents(cid) // empty cluster: centroid unchanged
            case Some(rows) =>
              val byDim = rows.map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
                .sortBy(_._1)
              byDim.map { case (_, s, n) => Math.floorDiv(s, n) }.toSeq
          }
        }
        moved = next != cents
        cents = next
        iter += 1
      }
      // No convergence requirement: the oracle unrolls ALL TrainIters
      // steps, so engine-at-fixpoint (converged steps are no-ops) and
      // engine-at-cap (exactly TrainIters steps, the loop guard) are
      // BOTH bit-equal to the oracle's c$TrainIters. Real corpora (the
      // decorrelated sf0.5+/sf1 tilings: T× distinct cluster structure
      // under a fixed K) routinely exhaust the cap — fixed-iteration
      // k-means is the standard practice there, not a failure.
      cents
    } finally cached.unpersist()
  }

  private val trained = new Scratch.Memo[String, Seq[Seq[Long]]]

  /** The converged codebook for `dir`'s embeddings (trained on first
    * use; Bench pre-trains in its untimed warmup — the codebook is a
    * LAYOUT, like the bucketed tables and the signature store).
    */
  def ensureTrained(s: SparkSession, dir: String): Seq[Seq[Long]] =
    trained(dir)(train(Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))))

  /** The oracle's training half: `TrainIters` unrolled Lloyd steps as
    * MATERIALIZED CTEs (`cI` references `cI-1` twice — for assignment
    * and for the empty-cluster fallback — so inlining would blow up
    * exponentially). Ends with centroids in `c$TrainIters`.
    */
  private[graft] def trainSqlCtes: String = {
    val sb = new StringBuilder(
      s"e AS MATERIALIZED (SELECT vec_id, ${Exact.quantizeSql("embedding")} AS qe" +
        " FROM embeddings), " +
        s"c0 AS MATERIALIZED (SELECT vec_id AS cid, qe AS cqe FROM e WHERE vec_id < $K)")
    for (i <- 1 to TrainIters) {
      val p = s"c${i - 1}"
      sb.append(
        s", c$i AS MATERIALIZED (SELECT p.cid, COALESCE(nc.cqe, p.cqe) AS cqe" +
          s" FROM $p p LEFT JOIN (" +
          "SELECT cid, list(CAST((s - (((s % n) + n) % n)) / n AS BIGINT) ORDER BY d) AS cqe" +
          " FROM (SELECT cid, d, SUM(qe[CAST(d AS INT) + 1]) AS s, COUNT(*) AS n" +
          " FROM (SELECT vec_id, qe, cid FROM (" +
          "SELECT e.vec_id, e.qe, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id" +
          s" ORDER BY ${Exact.cosineSql("e.qe", "c.cqe")} DESC, c.cid) AS rk" +
          s" FROM e, $p c) WHERE rk = 1), range(0, $Dim) t(d) GROUP BY cid, d)" +
          " GROUP BY cid) nc ON p.cid = nc.cid)")
    }
    sb.toString
  }

  /** q26b — q26's IVF probe against the TRAINED codebook: assignment
    * and the 2-cluster probe use the converged centroids instead of the
    * raw vec_id<8 seeds, so ANN quality no longer depends on which
    * vectors happen to carry small ids. Same plan shape as q26:
    * broadcast (literal) codebook, map-side codegen'd argmax, zero
    * joins, final TakeOrdered.
    */
  val qAnnTrained: QuerySpec = QuerySpec(
    "q26b_ann_trained",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
      val cents = ensureTrained(s, dir)
      val q = emb.filter(col("vec_id") === 0).select(col("qe"))
        .head().getSeq[Long](0)
      val probeCids = rankedCentroids(cents, q).take(2).toSet
      emb.withColumn("cid", NearestCentroid(col("qe"), cents))
        .filter(col("cid").isin(probeCids.toSeq: _*))
        .select(col("vec_id"),
          Exact.cosineFromQuantized(col("qe"), typedlit(q)).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"WITH $trainSqlCtes, $annAssignSqlCtes, $annQuerySqlCtes $annTopSql"))

  /** The oracle's converged full assignment (`fa`/`fm`: every vector
    * with its trained cluster id) — shared by q26b/q26c, the q133
    * fusion oracle, and the q134 semantic-dedup oracle. Assumes `e` and
    * `c$TrainIters` from [[trainSqlCtes]] are in scope.
    */
  private[graft] def annAssignSqlCtes: String =
    s"""fa AS (SELECT e.vec_id, e.qe, c.cid, ROW_NUMBER() OVER (
       |   PARTITION BY e.vec_id
       |   ORDER BY ${Exact.cosineSql("e.qe", "c.cqe")} DESC, c.cid) AS rk
       |  FROM e, c$TrainIters c),
       | fm AS (SELECT vec_id, qe, cid FROM fa WHERE rk = 1)""".stripMargin
      .replaceAll("\n", "")

  /** The oracle's query-side CTEs (`q`: the vec_id=0 query vector;
    * `probe`: centroid probe ranking) — q26b/q26c/q133.
    */
  private[graft] def annQuerySqlCtes: String =
    s"""q AS (SELECT qe AS qqe FROM e WHERE vec_id = 0),
       | probe AS (SELECT c.cid, ROW_NUMBER() OVER (
       |   ORDER BY ${Exact.cosineSql("c.cqe", "q.qqe")} DESC, c.cid) AS prk
       |  FROM c$TrainIters c, q)""".stripMargin.replaceAll("\n", "")

  /** The nprobe=2 IVF top-10 SELECT over `fm`/`probe`/`q` (q26b's
    * oracle tail, reused as a CTE body by q133).
    */
  private[graft] def annTopSql: String =
    s"""SELECT fm.vec_id, ${Exact.cosineSql("fm.qe", "q.qqe")} AS cos_sim
       | FROM fm JOIN probe ON fm.cid = probe.cid AND probe.prk <= 2, q
       | ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
      .replaceAll("\n", "")

  // ---- clustered-at-rest ANN layout (IVF with partition pruning) ---------

  private val clustered = new Scratch.Memo[String, String]

  /** Persist `(vec_id, qe, label, cid)` PARTITIONED BY the trained
    * cluster id — the at-rest form of an IVF index. At 100 TB this is
    * what makes ANN sub-linear in I/O, not just in compute: a probe
    * reads ONLY its nprobe clusters' partitions (catalog partition
    * pruning — the scan never touches the other K-nprobe shares of the
    * corpus), where q26/q26b still scan everything and discard
    * map-side. The filterable attribute (`label`) rides IN the layout —
    * the filtered-search design every vector store uses: a metadata
    * predicate becomes a pushed parquet filter on the pruned scan
    * (q166), never a post-hoc join of candidate ids against an
    * attribute table (which would shuffle a corpus-cardinality side per
    * request). Built once per dataset (Bench warmup, with the other
    * layouts).
    */
  def ensureClustered(s: SparkSession, dir: String): String =
    clustered(dir) {
      val table = s"graft_annclu_${Scratch.dirHash(dir)}"
      graft.sources.Bucketed.dropStale(s, table)
      val cents = ensureTrained(s, dir)
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"),
          col("label"))
        .withColumn("cid", NearestCentroid(col("qe"), cents))
        .write.partitionBy("cid").mode("overwrite").saveAsTable(table)
      table
    }

  /** An EMPTY clustered-layout table (the [[ensureClustered]] schema,
    * cid-partitioned) for incremental builds — the
    * [[graft.streaming.AnnStream]] seam, mirroring
    * [[graft.sources.EmbeddingIndex.build]] over an empty frame.
    */
  def buildClusteredEmpty(s: SparkSession, tag: String): String = {
    val table = s"graft_annclu_$tag"
    graft.sources.Bucketed.dropStale(s, table)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qe",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.IntegerType)))
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
      .write.partitionBy("cid").mode("overwrite").saveAsTable(table)
    table
  }

  /** Idempotent append of new vectors to a clustered layout under a
    * FROZEN codebook (the [[graft.streaming.PqStream]] freezing
    * discipline: cids are only comparable under the codebook that
    * assigned them, so ingest never retrains — drift is a periodic
    * retrain + re-cluster swap). One map-side quantize/assign pass, a
    * vec_id anti-join against the table (replay appends nothing), a
    * cid-partitioned append, then a catalog refresh on the COORDINATING
    * session — in a streaming foreachBatch the write runs on the
    * micro-batch session clone and a partitioned table's relation cache
    * is per-session (the [[graft.operators.ProductQuant.appendFresh]] /
    * Bucketed.compact cross-session trap).
    */
  def appendClustered(s: SparkSession, table: String, emb: DataFrame,
      cents: Seq[Seq[Long]]): Unit = {
    // an ingest frame without the filterable attribute appends NULL
    // labels — such vectors are servable by unfiltered probes and
    // invisible to label-filtered ones (q166), which is the correct
    // semantics for metadata that was never supplied
    val withLabel =
      if (emb.columns.contains("label")) emb
      else emb.withColumn("label", lit(null).cast("int"))
    withLabel
      .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"),
        col("label"))
      .withColumn("cid", NearestCentroid(col("qe"), cents))
      .join(s.table(table).select(col("vec_id")), Seq("vec_id"), "left_anti")
      .write.partitionBy("cid").mode("append").saveAsTable(table)
    s.catalog.refreshTable(table)
  }

  /** q26c — q26b's probe through the PARTITIONED layout: identical
    * result (same trained codebook, same 2-cluster probe set, same
    * cosine ordering — oracled against q26b's SQL), but the plan reads
    * only the probed partitions. `AnnPrunedSpec` asserts the partition
    * filter is present and only nprobe/K of the files are scanned.
    */
  val qAnnPruned: QuerySpec = QuerySpec(
    "q26c_ann_pruned",
    (s, dir) => {
      val cents = ensureTrained(s, dir)
      val table = ensureClustered(s, dir)
      val q = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0)
        .select(Exact.quantize(col("embedding")).as("qe"))
        .head().getSeq[Long](0)
      val probeCids = rankedCentroids(cents, q).take(2)
      s.table(table)
        .filter(col("cid").isin(probeCids: _*))
        .select(col("vec_id"),
          Exact.cosineFromQuantized(col("qe"), typedlit(q)).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    qAnnTrained.oracle)

  /** q60 — ANN recall@10: |brute-force top-10 ∩ trained-IVF top-10| / 10
    * — the evaluation metric every ANN deployment tracks. Composes the
    * existing gated operators (q19 exact scan vs q26b trained probe);
    * both sides are LIMIT-10 subplans, so the join is trivially
    * broadcast and the output is one scalar row. Exact arithmetic:
    * COUNT is integer, the one division is IEEE-exact by a power of 10.
    */
  val qAnnRecall: QuerySpec = QuerySpec(
    "q60_ann_recall",
    (s, dir) => {
      val bf = q19CosineTopK.build(s, dir).select(col("vec_id"))
      val ivf = qAnnTrained.build(s, dir).select(col("vec_id"))
      bf.join(ivf, Seq("vec_id"))
        .agg((count(lit(1)).cast("double") / 10.0).as("recall_at_10"))
    },
    Some(s"""WITH $trainSqlCtes,
            | q AS (SELECT qe AS qqe FROM e WHERE vec_id = 0),
            | fa AS (SELECT e.vec_id, e.qe, c.cid, ROW_NUMBER() OVER (
            |   PARTITION BY e.vec_id
            |   ORDER BY ${Exact.cosineSql("e.qe", "c.cqe")} DESC, c.cid) AS rk
            |  FROM e, c$TrainIters c),
            | fm AS (SELECT vec_id, qe, cid FROM fa WHERE rk = 1),
            | probe AS (SELECT c.cid, ROW_NUMBER() OVER (
            |   ORDER BY ${Exact.cosineSql("c.cqe", "q.qqe")} DESC, c.cid) AS prk
            |  FROM c$TrainIters c, q),
            | ivf AS (SELECT fm.vec_id, ${Exact.cosineSql("fm.qe", "q.qqe")} AS cos_sim
            |  FROM fm JOIN probe ON fm.cid = probe.cid AND probe.prk <= 2, q
            |  ORDER BY cos_sim DESC, vec_id LIMIT 10),
            | bf AS (SELECT e.vec_id, ${Exact.cosineSql("e.qe", "q.qqe")} AS cos_sim
            |  FROM e, q ORDER BY cos_sim DESC, vec_id LIMIT 10)
            | SELECT CAST(COUNT(*) AS DOUBLE) / 10.0 AS recall_at_10
            | FROM bf JOIN ivf ON bf.vec_id = ivf.vec_id""".stripMargin
      .replaceAll("\n", "")))

  /** q60b — the recall CURVE: recall@10 for nprobe ∈ {1,2,4,8} — the
    * deployment metric is the curve, not a point (pick the smallest
    * nprobe clearing the recall target; nprobe = K = 8 scans every
    * cluster, anchoring the curve at 1.0). Each probe reads ONLY its
    * nprobe partitions of the clustered-at-rest layout (q26c's pruned
    * scan), so the sweep's total I/O is ONE exact scan (the brute-force
    * top-10, collected to a 10-id literal — codebook-sized, like the
    * centroid collects) plus Σ nprobe/K of the corpus for the probes —
    * at 100 TB that is < 3 scans total where the naive form (a bf
    * subplan unioned into every branch) re-runs the exact scan 4×. The
    * four single-row aggregates union into one 4-row result.
    */
  private val SweepNprobes = Seq(1, 2, 4, 8)
  val qAnnRecallSweep: QuerySpec = QuerySpec(
    "q60b_ann_recall_sweep",
    (s, dir) => {
      val cents = ensureTrained(s, dir)
      val table = ensureClustered(s, dir)
      val q = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0)
        .select(Exact.quantize(col("embedding")).as("qe"))
        .head().getSeq[Long](0)
      val ranked = rankedCentroids(cents, q)
      val bfIds = q19CosineTopK.build(s, dir)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      SweepNprobes.map { n =>
        s.table(table)
          .filter(col("cid").isin(ranked.take(n): _*))
          .select(col("vec_id"),
            Exact.cosineFromQuantized(col("qe"), typedlit(q)).as("cs"))
          .orderBy(col("cs").desc, col("vec_id"))
          .limit(10)
          .filter(col("vec_id").isin(bfIds: _*))
          .agg((count(lit(1)).cast("double") / 10.0).as("recall_at_10"))
          .select(lit(n).as("nprobe"), col("recall_at_10"))
      }.reduce(_ union _)
    },
    Some {
      // fm/probe/bf are each referenced once per sweep point →
      // MATERIALIZED (the iterative-oracle rule: a CTE referenced more
      // than once must not inline, or the trainSqlCtes expansion
      // multiplies per reference).
      val ivCtes = SweepNprobes.map { n =>
        s" iv$n AS (SELECT fm.vec_id, ${Exact.cosineSql("fm.qe", "q.qqe")} AS cs" +
          s" FROM fm JOIN probe ON fm.cid = probe.cid AND probe.prk <= $n, q" +
          " ORDER BY cs DESC, vec_id LIMIT 10)"
      }.mkString(",")
      val branches = SweepNprobes.map { n =>
        s"SELECT $n AS nprobe, (SELECT CAST(COUNT(*) AS DOUBLE) / 10.0" +
          s" FROM bf JOIN iv$n ON bf.vec_id = iv$n.vec_id) AS recall_at_10"
      }.mkString(" UNION ALL ")
      s"""WITH $trainSqlCtes,
         | q AS (SELECT qe AS qqe FROM e WHERE vec_id = 0),
         | fa AS (SELECT e.vec_id, e.qe, c.cid, ROW_NUMBER() OVER (
         |   PARTITION BY e.vec_id
         |   ORDER BY ${Exact.cosineSql("e.qe", "c.cqe")} DESC, c.cid) AS rk
         |  FROM e, c$TrainIters c),
         | fm AS MATERIALIZED (SELECT vec_id, qe, cid FROM fa WHERE rk = 1),
         | probe AS MATERIALIZED (SELECT c.cid, ROW_NUMBER() OVER (
         |   ORDER BY ${Exact.cosineSql("c.cqe", "q.qqe")} DESC, c.cid) AS prk
         |  FROM c$TrainIters c, q),
         | bf AS MATERIALIZED (SELECT e.vec_id, ${Exact.cosineSql("e.qe", "q.qqe")} AS cos_sim
         |  FROM e, q ORDER BY cos_sim DESC, vec_id LIMIT 10),
         |$ivCtes
         | $branches""".stripMargin.replaceAll("\n", "")
    })

  /** q64 — translation-pair mining: embedding near-duplicates whose
    * documents carry DIFFERENT language tags — the standard bitext-
    * mining recipe (semantically-equivalent cross-lingual pairs sit
    * close in a multilingual embedding space; same-language hits are
    * ordinary near-dups, q25's business). Composes the banded-LSH pair
    * generator with two id-equi-joins onto document metadata; the
    * verified pair set is tiny relative to the corpus, so both metadata
    * joins broadcast the pair side at scale.
    */
  val qTranslationPairs: QuerySpec = QuerySpec(
    "q64_translation_pairs",
    (s, dir) => {
      val langs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
      qEmbedNearDup.build(s, dir)
        .join(langs.select(col("doc_id").as("vec_id_1"), col("lang").as("lang_1")),
          "vec_id_1")
        .join(langs.select(col("doc_id").as("vec_id_2"), col("lang").as("lang_2")),
          "vec_id_2")
        .filter(col("lang_1") =!= col("lang_2"))
        .select(col("vec_id_1"), col("vec_id_2"), col("lang_1"), col("lang_2"),
          col("cos_sim"))
    },
    Some(s"""WITH p AS (${qEmbedNearDup.oracle.get})
            | SELECT p.vec_id_1, p.vec_id_2, d1.lang AS lang_1,
            |  d2.lang AS lang_2, p.cos_sim
            | FROM p JOIN documents d1 ON p.vec_id_1 = d1.doc_id
            |  JOIN documents d2 ON p.vec_id_2 = d2.doc_id
            | WHERE d1.lang <> d2.lang""".stripMargin.replaceAll("\n", "")))

  /** q65 — IVF cluster-cohesion report: per trained cluster, its size
    * and the mean cosine of members to their centroid — the index-health
    * metric paired with q60's recall (shrinking cohesion says the
    * codebook needs retraining as the corpus drifts). Assignment is the
    * same map-side codegen'd argmax; the per-member cosine goes through
    * an 8-way literal centroid lookup (the broadcast codebook again),
    * and the mean uses [[Exact.davg]] (decimal-summed — a raw AVG over
    * doubles would be partition-order dependent).
    */
  val qClusterCohesion: QuerySpec = QuerySpec(
    "q65_cluster_cohesion",
    (s, dir) => {
      val cents = ensureTrained(s, dir)
      val centCos = cents.zipWithIndex
        .foldLeft(lit(null).cast("double")) { case (acc, (cq, cid)) =>
          when(col("cid") === cid,
            Exact.cosineFromQuantized(col("qe"), typedlit(cq))).otherwise(acc)
        }
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
        .withColumn("cid", NearestCentroid(col("qe"), cents))
        .withColumn("cos_c", centCos)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), Exact.davg(col("cos_c")).as("avg_cos"))
        .select(col("cid").cast("long").as("cid"), col("n"), col("avg_cos"))
    },
    Some(s"""WITH $trainSqlCtes,
            | fa AS (SELECT e.vec_id, e.qe, c.cid, c.cqe, ROW_NUMBER() OVER (
            |   PARTITION BY e.vec_id
            |   ORDER BY ${Exact.cosineSql("e.qe", "c.cqe")} DESC, c.cid) AS rk
            |  FROM e, c$TrainIters c),
            | fm AS (SELECT vec_id, qe, cid, cqe FROM fa WHERE rk = 1)
            | SELECT CAST(cid AS BIGINT) AS cid, COUNT(*) AS n,
            |  ${Exact.davgSql(Exact.cosineSql("qe", "cqe"))} AS avg_cos
            | FROM fm GROUP BY cid""".stripMargin.replaceAll("\n", "")))

  /** q79 — EMBEDDING-based benchmark decontamination: flag every
    * training vector that is a verified semantic near-duplicate of a
    * held-out evaluation vector (`vec_id % 10 == 0` plays the benchmark,
    * q46's convention) — the modern companion to q46's n-gram overlap:
    * surface-form rewrites of an eval item share no 5-gram but still sit
    * close in embedding space. Candidates come ONLY from the banded
    * sign-LSH equi-join between the two sides (the q25 generator, split
    * by membership instead of self-joined); the eval side is ~10% of the
    * corpus and shrinks further after banding, so at scale it broadcasts
    * and the training side never shuffles. A (train, eval) pair
    * colliding in several bands collapses through the final DISTINCT.
    */
  val qEmbedDecontaminate: QuerySpec = QuerySpec(
    "q79_embed_decontaminate",
    (s, dir) => {
      val b = withBandRows(Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe")))
      val train = b.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("train_id"), col("qe").as("qe1"),
          col("band"), col("bh"))
      val eval_ = b.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("eval_id"), col("qe").as("qe2"),
          col("band").as("band2"), col("bh").as("bh2"))
      train.join(broadcast(eval_),
          col("band") === col("band2") && col("bh") === col("bh2"))
        .select(col("train_id"), col("eval_id"),
          Exact.cosineFromQuantized(col("qe1"), col("qe2")).as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
        .distinct()
    },
    Some(s"""WITH b AS (SELECT vec_id, ${Exact.quantizeSql("embedding")} AS qe
            | FROM embeddings),
            | bb AS (SELECT vec_id, qe, t.band AS band,
            |   ${bandHashSql("qe", "t.band")} AS bh
            |  FROM b, range(0, $NumBands) t(band))
            | SELECT DISTINCT a.vec_id AS train_id, c.vec_id AS eval_id,
            | ${Exact.cosineSql("a.qe", "c.qe")} AS cos_sim
            | FROM bb a JOIN bb c ON a.band = c.band AND a.bh = c.bh
            |   AND a.vec_id % 10 <> 0 AND c.vec_id % 10 = 0
            | WHERE ${Exact.cosineSql("a.qe", "c.qe")} >= 0.3""".stripMargin
      .replaceAll("\n", "")))

  /** q103 — hard-negative mining for contrastive training: for each of
    * 8 anchor vectors, the 5 highest-cosine vectors carrying a DIFFERENT
    * label — the "looks similar, is not" examples a contrastive or
    * reranker training pipeline mines at corpus scale (the in-batch /
    * ANN-mined hard-negative recipe, public knowledge).
    *
    * Scale shape: the 8 anchors (with their labels and quantized
    * vectors) ride as literals — codebook-sized, the q60b rule — so the
    * corpus side is ONE map-side scan computing 8 integer-exact cosines
    * per row with no join. Top-5 per anchor goes through a TWO-LEVEL
    * window (partial top-5 per (anchor, neg_id mod 64) salt, then final
    * top-5 over the ≤ 64·5 survivors): a single window keyed on the
    * 8-value anchor id would funnel the whole scored corpus through 8
    * partitions — the low-cardinality-window trap. The two levels are
    * exactly equivalent: any global top-5 row ranks ≤ 5 within its own
    * salt group, so level one never drops a winner.
    */
  private val HardNegAnchors = 8
  private val HardNegK = 5
  val qHardNegatives: QuerySpec = QuerySpec(
    "q103_hard_negatives",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val anchors = emb.filter(col("vec_id") < HardNegAnchors)
        .select(col("vec_id"), col("label"),
          Exact.quantize(col("embedding")).as("qa"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
        .sortBy(_._1)
      val scored = emb
        .select(col("vec_id"), col("label"),
          Exact.quantize(col("embedding")).as("qe"))
        .select(col("vec_id"), col("label"),
          explode(array(anchors.map { case (aid, albl, qa) =>
            struct(lit(aid).as("anchor_id"), lit(albl).as("albl"),
              Exact.cosineFromQuantized(col("qe"), typedlit(qa)).as("cos_sim"))
          }: _*)).as("a"))
        .filter(col("label") =!= col("a.albl"))
        .select(col("a.anchor_id").as("anchor_id"),
          col("vec_id").as("neg_id"), col("a.cos_sim").as("cos_sim"))
      val w1 = Window
        .partitionBy(col("anchor_id"), pmod(col("neg_id"), lit(64)))
        .orderBy(col("cos_sim").desc, col("neg_id"))
      val w2 = Window.partitionBy(col("anchor_id"))
        .orderBy(col("cos_sim").desc, col("neg_id"))
      scored
        .withColumn("rk1", row_number().over(w1))
        .filter(col("rk1") <= HardNegK)
        .withColumn("rk", row_number().over(w2))
        .filter(col("rk") <= HardNegK)
        .select(col("anchor_id"), col("rk").cast("long").as("rk"),
          col("neg_id"), col("cos_sim"))
    },
    Some(s"""WITH a AS (SELECT vec_id AS anchor_id, label AS albl,
            |   ${Exact.quantizeSql("embedding")} AS qa
            |  FROM embeddings WHERE vec_id < $HardNegAnchors),
            | e AS (SELECT vec_id, label,
            |   ${Exact.quantizeSql("embedding")} AS qe FROM embeddings),
            | c AS (SELECT anchor_id, e.vec_id AS neg_id,
            |   ${Exact.cosineSql("e.qe", "a.qa")} AS cos_sim
            |  FROM e JOIN a ON e.label <> a.albl),
            | r AS (SELECT anchor_id, neg_id, cos_sim, ROW_NUMBER() OVER (
            |   PARTITION BY anchor_id ORDER BY cos_sim DESC, neg_id) AS rk
            |  FROM c)
            | SELECT anchor_id, CAST(rk AS BIGINT) AS rk, neg_id, cos_sim
            | FROM r WHERE rk <= $HardNegK""".stripMargin
      .replaceAll("\n", "")))

  private val MmrK = 5

  /** q108 — maximal-marginal-relevance diverse top-k (Carbonell &
    * Goldstein 1998): greedily select K vectors maximizing
    * `7·rel − 3·max_sim_to_selected` (λ = 0.7 in tenths — integer
    * coefficients so the float expression tree is two exact IEEE
    * products and a subtraction, identical in both engines). The
    * diversity-aware retrieval every exemplar-selection / few-shot
    * curation pipeline needs: plain top-k returns K near-copies of the
    * best hit; MMR returns K hits that COVER the neighborhood.
    *
    * Scale shape: greedy MMR is INHERENTLY sequential — selection i
    * depends on selections 1..i−1, so the loop is K driver-driven
    * passes by construction (K bounded, here 5). Each pass is ONE
    * map-side scan over the PERSISTED pool — the scan + quantize +
    * relevance cosine are paid once, not once per pass (the r5 q33
    * explicit-handle lesson) — the selected set rides as ≤K
    * quantized-vector literals (the q60b tiny-deterministic-results-
    * as-literals discipline) and the argmax is a TakeOrdered(1), so
    * there is no join, no window, and no driver-side data beyond K
    * vectors. Step-1's empty selected set scores `7·rel + 3` (max-sim
    * floor −1), keeping one formula shape per step. The query vector
    * is the min-id embedding; the query point itself is excluded from
    * the pool.
    */
  val qMmrSelect: QuerySpec = QuerySpec(
    "q108_mmr_select",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
      val qRow = emb.orderBy(col("vec_id")).limit(1).collect()(0)
      val (qid, qq) = (qRow.getLong(0), qRow.getSeq[Long](1))
      val pool = emb.filter(col("vec_id") =!= qid)
        .select(col("vec_id"), col("qe"),
          Exact.cosineFromQuantized(col("qe"), typedlit(qq)).as("rel"))
        .persist()
      try {
        var selected = Vector.empty[(Long, Seq[Long], Double, Double)]
        for (_ <- 1 to MmrK) {
          val simsToSel = selected.map { case (_, sq, _, _) =>
            Exact.cosineFromQuantized(col("qe"), typedlit(sq)) }
          val mmr =
            if (simsToSel.isEmpty) lit(7) * col("rel") + lit(3)
            else if (simsToSel.size == 1) lit(7) * col("rel") - lit(3) * simsToSel.head
            else lit(7) * col("rel") - lit(3) * greatest(simsToSel: _*)
          val r = pool
            .filter(if (selected.isEmpty) lit(true)
              else !col("vec_id").isInCollection(selected.map(_._1)))
            .select(col("vec_id"), col("qe"), col("rel"), mmr.as("mmr"))
            .orderBy(col("mmr").desc, col("vec_id")).limit(1).collect()(0)
          selected = selected :+
            ((r.getLong(0), r.getSeq[Long](1), r.getDouble(2), r.getDouble(3)))
        }
        import s.implicits._
        selected.zipWithIndex
          .map { case ((id, _, rel, mmr), i) => (i + 1L, id, rel, mmr) }
          .toDF("rk", "vec_id", "rel", "mmr")
      } finally pool.unpersist()
    },
    Some {
      val steps = (2 to MmrK).map { i =>
        val prev = (1 until i).map(j => s"s$j")
        val sims = prev.map(p => Exact.cosineSql("r.qe", s"$p.qe"))
        val maxSim = if (sims.size == 1) sims.head
          else s"GREATEST(${sims.mkString(", ")})"
        val excl = prev.map(p => s"r.vec_id <> $p.vec_id").mkString(" AND ")
        s"""s$i AS MATERIALIZED (SELECT vec_id, qe, rel, mmr FROM (
           |  SELECT r.vec_id, r.qe, r.rel, 7 * r.rel - 3 * ($maxSim) AS mmr
           |  FROM r, ${prev.mkString(", ")} WHERE $excl)
           |  ORDER BY mmr DESC, vec_id LIMIT 1)""".stripMargin
      }.mkString(",")
      val out = (1 to MmrK)
        .map(i => s"SELECT CAST($i AS BIGINT) AS rk, vec_id, rel, mmr FROM s$i")
        .mkString(" UNION ALL ")
      s"""WITH q AS MATERIALIZED (SELECT vec_id AS qid,
         |   ${Exact.quantizeSql("embedding")} AS qq
         |  FROM embeddings ORDER BY vec_id LIMIT 1),
         | e AS (SELECT vec_id, ${Exact.quantizeSql("embedding")} AS qe
         |  FROM embeddings),
         | r AS MATERIALIZED (SELECT vec_id, qe,
         |   ${Exact.cosineSql("qe", "q.qq")} AS rel
         |  FROM e, q WHERE vec_id <> q.qid),
         | s1 AS MATERIALIZED (SELECT vec_id, qe, rel, 7 * rel + 3 AS mmr
         |  FROM r ORDER BY mmr DESC, vec_id LIMIT 1),
         | $steps $out""".stripMargin.replaceAll("\n", "")
    })

  /** q120 power-iteration parameters, declared before the oracle SQL
    * that interpolates them (the object-init-order rule). DownScale
    * requantizes coordinates from 1e6 to 1e3 fixed point and CovShift
    * drops 16 bits off each covariance entry — together they keep every
    * product of the iteration inside BIGINT at gate scale (bounds in
    * the q120 scaladoc); U is the max-abs norm of the iterated vector.
    */
  private val PcaIters = 8
  private val PcaU = 10000L
  private val PcaDownScale = 1000L
  private val PcaCovShift = 65536L

  /** q120 — dominant principal component of the embedding cloud by
    * power iteration: the spectral member of the embedding-analytics
    * family (cosine q19, clustering q51, cohesion q65, quantization
    * q26/q74/q94 — none of which expose the GLOBAL shape of the cloud).
    * The top PC is the anisotropy axis: embedding sets with one
    * dominant direction cluster and retrieve badly (the "common
    * direction" pathology), and this loading vector is what you inspect
    * — and subtract — to fix it.
    *
    * Exactness — NO floating point anywhere: the centered covariance
    * is the integer moment identity N·Σxy − Σx·Σy over DownScale-d
    * coordinates (|C| ≤ N²·10⁶ — BIGINT to N ≈ 3e6 rows; past that
    * DECIMAL(38), the q63 rule), each entry truncate-shifted by
    * CovShift; the iteration normalizes by MAX-ABS instead of the L2
    * norm (|w| ≤ 64·|C'|·U ≤ 2.4e14), so every step is integer
    * multiply/sum/div — `div` and `//` both truncate toward zero, and
    * the unrolled oracle reproduces the loadings bit-for-bit. Max-abs
    * scaling preserves the direction, which is all a power iteration
    * needs; sign is pinned by the deterministic all-ones start.
    *
    * Scale shape: the moment matrix is the only corpus-sized work —
    * explode to (vec_id, d, q) and self-join on vec_id (N·dim² rows
    * into a map-side-combined (d1, d2) agg; dim² = 4096 cells). The
    * 64×64 matrix then collects driver-side and iterates in microseconds
    * (exactly where a production eigensolve runs); the result re-enters
    * the plan as literals, the q60b tiny-result discipline.
    */
  val qPrincipalComponent: QuerySpec = QuerySpec(
    "q120_principal_component",
    (s, dir) => {
      import s.implicits._
      val x = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(Exact.quantize(col("embedding"))))
        .select(col("vec_id"), col("pos").cast("long").as("d"),
          expr(s"col div $PcaDownScale").as("v"))
      val moments = x.alias("a").join(x.alias("b"), Seq("vec_id"))
        .groupBy(col("a.d").as("d1"), col("b.d").as("d2"))
        .agg(sum(col("a.v") * col("b.v")).as("S"))
      val sums = x.groupBy(col("d")).agg(sum(col("v")).as("s"))
      val nRows = Tables.load(s, dir, "embeddings").count()
      val cov = moments
        .join(broadcast(sums.select(col("d").as("d1"), col("s").as("s1"))), Seq("d1"))
        .join(broadcast(sums.select(col("d").as("d2"), col("s").as("s2"))), Seq("d2"))
        .select(col("d1"), col("d2"),
          expr(s"($nRows * S - s1 * s2) div $PcaCovShift").as("cv"))
        .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getLong(2)))
        .toMap
      val c = Array.tabulate(Dim, Dim)((j, k) => cov((j, k)))
      var v = Array.fill(Dim)(PcaU)
      var growth = 0L
      for (_ <- 1 to PcaIters) {
        val w = Array.tabulate(Dim)(j =>
          (0 until Dim).map(k => c(j)(k) * v(k)).sum)
        val mx = w.map(math.abs).max
        require(mx > 0L, "power iteration collapsed to the zero vector")
        v = w.map(x => x * PcaU / mx) // Long division: truncates, ≡ //
        growth = mx / PcaU
      }
      (0 until Dim).map(d => (d.toLong, v(d), growth))
        .toDF("d", "loading", "growth")
    },
    Some {
      val steps = (1 to PcaIters).map { k =>
        s"""w$k AS MATERIALIZED (SELECT c.d1 AS d,
           |   CAST(SUM(c.cv * v.v) AS BIGINT) AS w
           |  FROM c JOIN v${k - 1} v ON c.d2 = v.d GROUP BY c.d1),
           | m$k AS (SELECT MAX(ABS(w)) AS mx FROM w$k),
           | v$k AS MATERIALIZED (SELECT d, (w * $PcaU) // mx AS v
           |  FROM w$k, m$k)""".stripMargin
      }.mkString(",")
      s"""WITH e AS (SELECT vec_id, list_transform(
         |   ${Exact.quantizeSql("embedding")}, q -> q // $PcaDownScale) AS q
         |  FROM embeddings),
         | x AS (SELECT vec_id, CAST(UNNEST(range(0, $Dim)) AS BIGINT) AS d,
         |   UNNEST(q) AS v FROM e),
         | mom AS (SELECT a.d AS d1, b.d AS d2,
         |   CAST(SUM(a.v * b.v) AS BIGINT) AS S
         |  FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY a.d, b.d),
         | sv AS (SELECT d, CAST(SUM(v) AS BIGINT) AS s FROM x GROUP BY d),
         | nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
         | c AS MATERIALIZED (SELECT d1, d2,
         |   (nn.n * mom.S - s1.s * s2.s) // $PcaCovShift AS cv
         |  FROM mom JOIN sv s1 ON mom.d1 = s1.d
         |   JOIN sv s2 ON mom.d2 = s2.d CROSS JOIN nn),
         | v0 AS (SELECT CAST(UNNEST(range(0, $Dim)) AS BIGINT) AS d,
         |   CAST($PcaU AS BIGINT) AS v),
         | $steps
         | SELECT v.d, v.v AS loading,
         |  CAST(m$PcaIters.mx // $PcaU AS BIGINT) AS growth
         | FROM v$PcaIters v, m$PcaIters""".stripMargin.replaceAll("\n", "")
    })

  /** q162's outlier threshold — declared above the spec (the q82 rule). */
  private[graft] val ClusterOutlierCos = 0.5

  /** q162 — embedding-layout quality report: per trained cluster, the
    * member count, mean / min cosine-to-own-centroid, and the count of
    * outliers below [[ClusterOutlierCos]] — the embedding-QA audit that
    * catches a degenerate layout (garbage embeddings, a collapsed or
    * starved centroid) BEFORE the clustered/PQ serving tiers built on
    * top of it (q26c, q74, q143) degrade silently. Complements q65's
    * pairwise cohesion with the assignment-side view the IVF layout
    * actually serves from.
    *
    * Scale shape: one embeddings scan; assignment is the codegen'd
    * map-side [[graft.functions.NearestCentroid]] argmax (the q26b
    * kernel); the K-row centroid frame broadcasts for the own-centroid
    * cosine; one K-group aggregate. Cosines ride the fixed-point
    * [[Exact.cosineFromQuantized]] and the mean rides [[Exact.davg]],
    * so every reported double is bit-equal in both engines.
    */
  val qClusterQuality: QuerySpec = QuerySpec(
    "q162_cluster_quality",
    (s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
      val cents = ensureTrained(s, dir)
      val centDf = cents.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toDF("cid", "cqe")
      val cs = Exact.cosineFromQuantized(col("qe"), col("cqe"))
      emb.withColumn("cid", NearestCentroid(col("qe"), cents).cast("long"))
        .join(broadcast(centDf), Seq("cid"))
        .select(col("cid"), cs.as("cs"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"),
          Exact.davg(col("cs")).as("mean_cos"),
          min(col("cs")).as("min_cos"),
          sum(when(col("cs") < ClusterOutlierCos, 1L).otherwise(0L))
            .as("n_outlier"))
    },
    Some(s"""WITH $trainSqlCtes, $annAssignSqlCtes,
            | ct AS (SELECT cid, cqe FROM c$TrainIters),
            | d AS (SELECT fm.vec_id, fm.cid,
            |   ${Exact.cosineSql("fm.qe", "ct.cqe")} AS cs
            |  FROM fm JOIN ct ON fm.cid = ct.cid)
            | SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
            |  ${Exact.davgSql("cs")} AS mean_cos, MIN(cs) AS min_cos,
            |  CAST(SUM(CASE WHEN cs < $ClusterOutlierCos THEN 1 ELSE 0 END)
            |    AS BIGINT) AS n_outlier
            | FROM d GROUP BY cid""".stripMargin.replaceAll("\n", "")))

  /** The prefix dimensions q178 sweeps — powers of two up to the full
    * embedding width, the granularity matryoshka-trained models expose.
    */
  private val MrlDims = Seq(8, 16, 32, 64)

  /** q178 — matryoshka truncation-recall curve (Kusupati et al. 2022,
    * public literature): recall@10 of cosine top-10 computed on the
    * FIRST d dimensions against the full-width exact top-10, for
    * d ∈ {8, 16, 32, 64}. Matryoshka-trained embeddings front-load
    * information into prefixes, so serving stacks shrink index memory
    * (and ADC bandwidth) by storing truncated vectors — this curve is
    * the measurement that licenses the cut ("d = 16 keeps 0.9
    * recall@10 at 4× compression"). Truncated cosine = the SAME
    * fixed-point kernel over `slice(qe, 1, d)` — quantization commutes
    * with truncation, so no second quantize pass and the oracle reuses
    * the one cosine convention.
    *
    * Scale shape: the exact side is computed ONCE and collected to a
    * 10-id literal (the q60b rule); each sweep point is one map-side
    * prefix-cosine scan + distributed TakeOrdered(10) — 4 two-column
    * pruned scans total, never a global sort, never a pairwise shape.
    */
  val qMatryoshkaRecall: QuerySpec = QuerySpec(
    "q178_matryoshka_recall",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("qe")).head().getSeq[Long](0)
      val bfIds = q19CosineTopK.build(s, dir)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      MrlDims.map { d =>
        emb.select(col("vec_id"),
            Exact.cosineFromQuantized(slice(col("qe"), 1, d),
              typedlit(q.take(d))).as("cs"))
          .orderBy(col("cs").desc, col("vec_id"))
          .limit(10)
          .filter(col("vec_id").isin(bfIds: _*))
          .agg((count(lit(1)).cast("double") / 10.0).as("recall_at_10"))
          .select(lit(d).as("dim"), col("recall_at_10"))
      }.reduce(_ union _)
    },
    Some {
      val trCtes = MrlDims.map { d =>
        s" tr$d AS (SELECT e.vec_id," +
          s" ${Exact.cosineSql(s"(e.qe[1:$d])", s"(q.qqe[1:$d])")} AS cs" +
          " FROM e, q ORDER BY cs DESC, vec_id LIMIT 10)"
      }.mkString(",")
      val branches = MrlDims.map { d =>
        s"SELECT $d AS dim, (SELECT CAST(COUNT(*) AS DOUBLE) / 10.0" +
          s" FROM bf JOIN tr$d ON bf.vec_id = tr$d.vec_id) AS recall_at_10"
      }.mkString(" UNION ALL ")
      s"""WITH e AS MATERIALIZED (SELECT vec_id,
         |  ${Exact.quantizeSql("embedding")} AS qe FROM embeddings),
         | q AS MATERIALIZED (SELECT qe AS qqe FROM e WHERE vec_id = 0),
         | bf AS MATERIALIZED (SELECT e.vec_id,
         |   ${Exact.cosineSql("e.qe", "q.qqe")} AS cos_sim
         |  FROM e, q ORDER BY cos_sim DESC, vec_id LIMIT 10),
         |$trCtes
         | $branches""".stripMargin.replaceAll("\n", "")
    })

  /** Driver-side twin of [[bandHashCol]] (same [[planeWeight]] grid,
    * same strict `> 0` sign rule) — the query's 4 band codes as
    * literals, the q60b tiny-deterministic-results discipline.
    */
  private def bandHashesOf(q: Seq[Long]): Seq[Long] =
    (0 until NumBands).map { b =>
      (0 until PlanesPerBand).map { i =>
        val dot = (0 until Dim).map(d => q(d) * planeWeight(b * PlanesPerBand + i, d)).sum
        if (dot > 0) 1L << i else 0L
      }.sum
    }

  /** q179 — multi-probe sign-LSH serving (Lv et al. 2007, public
    * literature): probe the persisted q52 embedding index with the
    * query's own band codes (t = 0) PLUS every 1-bit flip of each code
    * (t = 1, the exhaustive depth-1 probing sequence — margin-ranked
    * probing is the heuristic refinement; exhaustive is deterministic
    * and oracle-able). Near-miss neighbors differ from the query on
    * exactly one hyperplane per band, so single-probe LSH misses them
    * while multi-probe recovers them WITHOUT more hash tables — the
    * standard memory/recall trade. Output per depth: candidate count
    * and recall@10 vs the exact top-10 — measuring exactly what the
    * extra probes buy.
    *
    * Scale shape: probe keys are 4·17 literals broadcast against the
    * (band, bh)-bucketed index — the store side never shuffles (q52's
    * property) and reads only matching buckets; candidates are
    * bucket-occupancy-bounded (~68·N/2^16 rows), so the min-t collapse,
    * exact re-rank, and rank windows all run on a request-sized frame.
    * The exact side is one scan collected to a 10-id literal (q60b).
    */
  val qMultiprobeLsh: QuerySpec = QuerySpec(
    "q179_multiprobe_lsh",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val idx = graft.sources.EmbeddingIndex.ensure(s, dir)
      val q = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") === 0)
        .select(Exact.quantize(col("embedding")).as("qe"))
        .head().getSeq[Long](0)
      val bfIds = q19CosineTopK.build(s, dir)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val codes = bandHashesOf(q)
      val probes = codes.zipWithIndex.flatMap { case (bh, band) =>
        (band, bh, 0) +: (0 until PlanesPerBand).map(i =>
          (band, bh ^ (1L << i), 1))
      }
      import s.implicits._
      val pframe = probes.toDF("pband", "pbh", "t")
      val cand = s.table(idx)
        .join(broadcast(pframe),
          col("band") === col("pband") && col("bh") === col("pbh"))
        .groupBy(col("vec_id"))
        // cs is a pure function of (qe, q) and qe is identical across a
        // vec_id's band rows, so min is just the deterministic pick
        .agg(min(col("t")).as("t_min"),
          min(Exact.cosineFromQuantized(col("qe"), typedlit(q))).as("cs"))
      val r1 = Window.orderBy(col("cs").desc, col("vec_id"))
      val r0 = Window.partitionBy(col("t_min"))
        .orderBy(col("cs").desc, col("vec_id"))
      val ranked = cand
        .withColumn("rk1", row_number().over(r1))
        .withColumn("rk0", row_number().over(r0))
        .withColumn("in_bf", col("vec_id").isin(bfIds: _*))
      ranked.agg(
          sum(when(col("t_min") === 0, 1L).otherwise(0L)).as("c0"),
          (sum(when(col("t_min") === 0 && col("rk0") <= 10 && col("in_bf"),
            1L).otherwise(0L)).cast("double") / 10.0).as("rec0"),
          count(lit(1)).as("c1"),
          (sum(when(col("rk1") <= 10 && col("in_bf"), 1L).otherwise(0L))
            .cast("double") / 10.0).as("rec1"))
        .select(explode(array(
          struct(lit(0).as("t"), col("c0").as("candidates"),
            col("rec0").as("recall_at_10")),
          struct(lit(1).as("t"), col("c1").as("candidates"),
            col("rec1").as("recall_at_10")))).as("r"))
        .select(col("r.t").as("t"), col("r.candidates"),
          col("r.recall_at_10"))
    },
    Some(s"""WITH b AS MATERIALIZED (SELECT vec_id,
            |  ${Exact.quantizeSql("embedding")} AS qe FROM embeddings),
            | q AS MATERIALIZED (SELECT qe AS qqe FROM b WHERE vec_id = 0),
            | bb AS MATERIALIZED (SELECT vec_id, qe, t.band AS band,
            |   ${bandHashSql("qe", "t.band")} AS bh
            |  FROM b, range(0, $NumBands) t(band)),
            | qb AS MATERIALIZED (SELECT t.band AS band,
            |   ${bandHashSql("q.qqe", "t.band")} AS bh
            |  FROM q, range(0, $NumBands) t(band)),
            | pk AS (SELECT band, bh AS pbh, 0 AS t FROM qb
            |  UNION ALL SELECT band,
            |   xor(bh, (CAST(1 AS BIGINT) << CAST(f.i AS INT))), 1
            |  FROM qb, range(0, $PlanesPerBand) f(i)),
            | cd AS (SELECT bb.vec_id, MIN(pk.t) AS t_min
            |  FROM bb JOIN pk ON bb.band = pk.band AND bb.bh = pk.pbh
            |  GROUP BY bb.vec_id),
            | cs AS (SELECT cd.vec_id, cd.t_min,
            |   ${Exact.cosineSql("b.qe", "q.qqe")} AS cs
            |  FROM cd JOIN b ON cd.vec_id = b.vec_id, q),
            | bf AS MATERIALIZED (SELECT b.vec_id,
            |   ${Exact.cosineSql("b.qe", "q.qqe")} AS csim
            |  FROM b, q ORDER BY csim DESC, vec_id LIMIT 10),
            | rk AS (SELECT cs.vec_id, cs.t_min, cs.cs,
            |   ROW_NUMBER() OVER (ORDER BY cs.cs DESC, cs.vec_id) AS rk1,
            |   ROW_NUMBER() OVER (PARTITION BY cs.t_min
            |    ORDER BY cs.cs DESC, cs.vec_id) AS rk0,
            |   (cs.vec_id IN (SELECT vec_id FROM bf)) AS in_bf
            |  FROM cs)
            | SELECT 0 AS t,
            |  CAST(SUM(CASE WHEN t_min = 0 THEN 1 ELSE 0 END) AS BIGINT)
            |    AS candidates,
            |  CAST(SUM(CASE WHEN t_min = 0 AND rk0 <= 10 AND in_bf
            |    THEN 1 ELSE 0 END) AS DOUBLE) / 10.0 AS recall_at_10
            | FROM rk
            | UNION ALL SELECT 1, CAST(COUNT(*) AS BIGINT),
            |  CAST(SUM(CASE WHEN rk1 <= 10 AND in_bf THEN 1 ELSE 0 END)
            |    AS DOUBLE) / 10.0
            | FROM rk""".stripMargin.replaceAll("\n", "")))

  /** q186 — serving-layout parity audit: for each persisted embedding
    * layout this engine maintains (the q52 sign-LSH index, the q26c
    * clustered-at-rest table, the q74 PQ codes store), its row count,
    * distinct-vector count, and the vectors MISSING from / EXTRA vs the
    * raw embeddings corpus — the integrity check an index operator runs
    * after every ingest/compaction cycle. Every layout is a
    * deterministic function of the corpus (index = NumBands rows per
    * vector, clustered/codes = one row per vector), so the oracle can
    * state the healthy populations from the raw table alone — and the
    * gate therefore proves the ACTUAL stores hold exactly them: a
    * double-append (idempotence bug), a dropped partition, or a
    * half-committed compaction all surface as nonzero missing/extra or
    * a wrong row count here.
    *
    * Scale shape: per store one (distinct vec_id) projection — the
    * stores' narrowest column — full-outer-joined against the corpus id
    * set (ids-only frames, the cheapest corpus-keyed shuffle), rolled up
    * to ONE report row per store, 3 rows total.
    */
  val qLayoutParity: QuerySpec = QuerySpec(
    "q186_layout_parity",
    (s, dir) => {
      val corpus = Tables.load(s, dir, "embeddings").select(col("vec_id"))
      val stores: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "lsh_index" -> s.table(graft.sources.EmbeddingIndex.ensure(s, dir)),
        "clustered" -> s.table(ensureClustered(s, dir)),
        "pq_codes" -> s.table(ProductQuant.ensureCodes(s, dir)))
      stores.map { case (name, t) =>
        val rows = t.agg(count(lit(1)).as("n_rows"))
        val ids = t.select(col("vec_id")).distinct()
        val parity = corpus.select(col("vec_id"), lit(1L).as("in_corpus"))
          .join(ids.select(col("vec_id"), lit(1L).as("in_store")),
            Seq("vec_id"), "full_outer")
          .agg(sum(coalesce(col("in_store"), lit(0L))).as("n_vecs"),
            sum(when(col("in_store").isNull, 1L).otherwise(0L))
              .as("missing"),
            sum(when(col("in_corpus").isNull, 1L).otherwise(0L))
              .as("extra"))
        parity.crossJoin(broadcast(rows))
          .select(lit(name).as("store"), col("n_rows"), col("n_vecs"),
            col("missing"), col("extra"))
      }.reduce(_ union _)
    },
    Some(s"""WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv
            |  FROM embeddings)
            | SELECT 'lsh_index' AS store, $NumBands * nv AS n_rows,
            |  nv AS n_vecs, CAST(0 AS BIGINT) AS missing,
            |  CAST(0 AS BIGINT) AS extra FROM n
            | UNION ALL SELECT 'clustered', nv, nv, 0, 0 FROM n
            | UNION ALL SELECT 'pq_codes', nv, nv, 0, 0 FROM n""".stripMargin
      .replaceAll("\n", "")))

  val specs: Seq[QuerySpec] = Seq(
    q19CosineTopK, qEmbedNearDup, qEmbedNearDupCapped, qAnnIvf, qKmeansStep,
    qAnnTrained, qAnnPruned, qAnnRecall, qAnnRecallSweep, qTranslationPairs,
    qClusterCohesion, qEmbedDecontaminate, qHardNegatives, qMmrSelect,
    qPrincipalComponent, qClusterQuality, qMatryoshkaRecall, qMultiprobeLsh,
    qLayoutParity)
}
