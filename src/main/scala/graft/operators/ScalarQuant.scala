package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.{Exact, QDot, SqEncode, SqOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization — the remaining tier of the vector-compression
  * spectrum the similarity stack already spans: raw fixed-point (q19),
  * IVF pruning (q26*), IVF-PQ (q74). SQ8 is the FLAT compressed index:
  * one byte-range code per dimension on a corpus-trained per-dimension
  * linear grid, scanned brute-force. It trades q74's sub-linear probe for
  * zero recall loss from cell boundaries at the coarse level — the tier a
  * deployment picks when it needs compressed exhaustive search (re-rank
  * candidate generation, small-collection serving, or recall floors IVF
  * can't guarantee).
  *
  * All arithmetic is exact 64-bit integer: bounds are min/max of the
  * fixed-point domain, codes are `clamp(floor((v−min)·255/span))`
  * (Math.floorDiv ≡ DuckDB `//`; the clamp absorbs truncation-vs-floor on
  * out-of-range inputs), and distances are integer squared-L2 between
  * code vectors — so codes, rankings, and recalls are bit-identical
  * across partitionings and vs the DuckDB oracle.
  */
object ScalarQuant {

  private[graft] val Dim = 64
  private val Rerank = 50

  private val boundsCache = new Scratch.Memo[String, (Seq[Long], Seq[Long])]

  /** Corpus per-dimension (min, span) over the quantized domain — the SQ
    * "training" step: ONE scan with a 64-group partial-aggregated
    * rollup, collected as a codebook-sized literal (the q60b rule). At
    * 100 TB the same two-phase min/max agg holds; the collect is still
    * 128 longs.
    */
  def ensureBounds(s: SparkSession, dir: String): (Seq[Long], Seq[Long]) =
    boundsCache(dir) {
      val rows = Tables.load(s, dir, "embeddings")
        .select(posexplode(Exact.quantize(col("embedding"))))
        .groupBy(col("pos"))
        .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      require(rows.length == Dim, s"expected $Dim dims, got ${rows.length}")
      (rows.map(_._2).toSeq, rows.map(t => t._3 - t._2).toSeq)
    }

  private val codesTables = new Scratch.Memo[String, String]

  /** Persist `(vec_id, c8)` — the at-rest flat SQ8 index. Codes are
    * 0..255 per dimension, so the parquet encoding bit-packs them to
    * ~1 byte each (~8× under the fixed-point vector), and the probe's
    * resident set shrinks the same way. Unpartitioned BY DESIGN: flat
    * SQ is the exhaustive tier; the pruned tiers are q26c/q74.
    */
  def ensureCodes(s: SparkSession, dir: String): String =
    codesTables(dir) {
      val (mins, spans) = ensureBounds(s, dir)
      val table = s"graft_sq8_${Scratch.dirHash(dir)}"
      graft.sources.Bucketed.dropStale(s, table)
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          SqEncode(Exact.quantize(col("embedding")), mins, spans).as("c8"))
        .write.mode("overwrite").saveAsTable(table)
      table
    }

  /** q94 — SQ8 recall report: recall@10 of the raw code-distance scan
    * and of the exact re-rank of its top-50 shortlist, vs the exact
    * integer-L2 top-10 (q74's convention, on the flat tier). The scan
    * side reads ONLY the codes table (the ~8× shrink); the re-rank
    * fetches full vectors for 50 ids via a broadcast join — never a
    * second corpus scan. Code distance is symmetric (query encoded on
    * the same grid driver-side), composed from the codegen'd
    * [[graft.functions.QDot]]: ‖c−q‖² = c·c − 2·c·q + q·q.
    */
  val qSq8Recall: QuerySpec = QuerySpec(
    "q94_sq8_recall",
    (s, dir) => {
      val (mins, spans) = ensureBounds(s, dir)
      val table = ensureCodes(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), Exact.quantize(col("embedding")).as("qe"))
      val q = emb.filter(col("vec_id") === 0).select(col("qe"))
        .head().getSeq[Long](0)
      val qc = SqOps.encodeLocal(q, mins.toArray, spans.toArray)
      val qq = q.map(x => x * x).sum
      val qcqc = qc.map(x => x * x).sum
      def exactDist(qe: org.apache.spark.sql.Column) =
        QDot(qe, qe) - lit(2L) * QDot(qe, typedlit(q)) + lit(qq)
      def codeDist(c8: org.apache.spark.sql.Column) =
        QDot(c8, c8) - lit(2L) * QDot(c8, typedlit(qc)) + lit(qcqc)
      val exactIds = emb
        .select(col("vec_id"), exactDist(col("qe")).as("dist"))
        .orderBy(col("dist").asc, col("vec_id"))
        .limit(10).select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val scored = s.table(table)
        .select(col("vec_id"), codeDist(col("c8")).as("cd"))
      val rawRecall = scored
        .orderBy(col("cd").asc, col("vec_id")).limit(10)
        .filter(col("vec_id").isin(exactIds: _*))
        .agg((count(lit(1)).cast("double") / 10.0).as("recall_at_10"))
      val shortlist = scored
        .orderBy(col("cd").asc, col("vec_id")).limit(Rerank)
        .select(col("vec_id"))
      val rerankRecall = broadcast(shortlist)
        .join(emb, "vec_id")
        .select(col("vec_id"), exactDist(col("qe")).as("dist"))
        .orderBy(col("dist").asc, col("vec_id")).limit(10)
        .filter(col("vec_id").isin(exactIds: _*))
        .agg((count(lit(1)).cast("double") / 10.0).as("recall_rerank_at_10"))
      rawRecall.crossJoin(rerankRecall)
        .select(col("recall_at_10"), col("recall_rerank_at_10"))
    },
    Some {
      val encList = (src: String) =>
        s"list_transform(range(1, ${Dim + 1}), i -> CASE WHEN bl.mx[CAST(i AS INT)] = bl.mn[CAST(i AS INT)]" +
          s" THEN 0 ELSE least(255, greatest(0, (($src[CAST(i AS INT)] - bl.mn[CAST(i AS INT)]) * 255)" +
          s" // (bl.mx[CAST(i AS INT)] - bl.mn[CAST(i AS INT)]))) END)"
      s"""WITH e AS MATERIALIZED (SELECT vec_id,
         |   ${Exact.quantizeSql("embedding")} AS qe FROM embeddings),
         | q AS (SELECT qe AS qqe FROM e WHERE vec_id = 0),
         | b AS (SELECT d, MIN(qe[CAST(d AS INT) + 1]) AS mn,
         |   MAX(qe[CAST(d AS INT) + 1]) AS mx
         |  FROM e, range(0, $Dim) t(d) GROUP BY d),
         | bl AS MATERIALIZED (SELECT list(mn ORDER BY d) AS mn,
         |   list(mx ORDER BY d) AS mx FROM b),
         | codes AS MATERIALIZED (SELECT vec_id, ${encList("qe")} AS c8
         |  FROM e, bl),
         | qc AS MATERIALIZED (SELECT ${encList("qqe")} AS qc8 FROM q, bl),
         | ex AS MATERIALIZED (SELECT e.vec_id,
         |   ${ProductQuant.l2Sql("e.qe", "q.qqe", Dim)} AS dist
         |  FROM e, q ORDER BY dist ASC, vec_id LIMIT 10),
         | cd AS MATERIALIZED (SELECT c.vec_id,
         |   ${ProductQuant.l2Sql("c.c8", "qc.qc8", Dim)} AS cd
         |  FROM codes c, qc),
         | raw AS (SELECT vec_id FROM cd ORDER BY cd ASC, vec_id LIMIT 10),
         | sl AS (SELECT vec_id FROM cd ORDER BY cd ASC, vec_id LIMIT $Rerank),
         | rr AS (SELECT e.vec_id FROM sl JOIN e ON sl.vec_id = e.vec_id, q
         |  ORDER BY ${ProductQuant.l2Sql("e.qe", "q.qqe", Dim)} ASC, e.vec_id
         |  LIMIT 10)
         | SELECT (SELECT CAST(COUNT(*) AS DOUBLE) / 10.0
         |   FROM ex JOIN raw ON ex.vec_id = raw.vec_id) AS recall_at_10,
         |  (SELECT CAST(COUNT(*) AS DOUBLE) / 10.0
         |   FROM ex JOIN rr ON ex.vec_id = rr.vec_id) AS recall_rerank_at_10""".stripMargin
        .replaceAll("\n", "")
    })

  val specs: Seq[QuerySpec] = Seq(qSq8Recall)
}
