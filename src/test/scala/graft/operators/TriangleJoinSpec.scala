package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r19 3-key triangle join-back identity: q107/q222 close
  * wedges against the oriented edge list on (b, c, dc) instead of
  * (b, c) — the extra dc = dv equality is a NO-OP because dv = deg(v)
  * is functionally determined by v, and it exists only so the closing
  * branch consumes dv above its exchange (keeping all three oriented
  * subtrees canonically equal for exchange reuse). This spec holds the
  * legacy 2-key formulation verbatim and asserts the shipped q107
  * output is row-identical on the real sf0.001 graph and on the
  * oracle-gated sf0.01 one — if someone
  * breaks the functional dependency (e.g. renames dv to something not
  * derived from deg(v)), the 3-key join silently drops triangles and
  * this fails before the oracle does.
  */
class TriangleJoinSpec extends AnyFunSuite with graft.SparkTestSession {

  test("3-key (b, c, dc) join-back ≡ legacy 2-key (b, c) join-back") {
    check("/root/testdata/sf0.001")
  }

  test("3-key ≡ legacy 2-key join-back at the oracle-gated sf0.01") {
    check("/root/testdata/sf0.01")
  }

  private def check(dir: String): Unit = {
    val edges = DupGraph.edges(spark, dir)
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // the pre-r19 formulation, verbatim (flushless is fine for the
    // equivalence check — values, not plan shape, are under test)
    val oriented = edges
      .join(deg.toDF("u", "du"), Seq("u"))
      .join(deg.toDF("v", "dv"), Seq("v"))
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"), col("dv"))
    val wedges = oriented.toDF("u", "b", "db")
      .join(oriented.toDF("u", "c", "dc"), Seq("u"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("u").as("a"), col("b"), col("c"))
    val tri = wedges
      .join(oriented.select(col("u").as("b"), col("v").as("c")),
        Seq("b", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("u"))
      .groupBy(col("u")).agg(count(lit(1)).as("tri"))
    val legacy = deg.join(perNode, Seq("u"), "left")
      .select(col("u").as("doc_id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))

    val shipped = Graph.qTriangles.build(spark, dir)
      .select(col("doc_id"), col("deg"), col("tri"))

    assert(shipped.exceptAll(legacy).isEmpty,
      "shipped q107 has rows the legacy 2-key form lacks")
    assert(legacy.exceptAll(shipped).isEmpty,
      "legacy 2-key form has rows shipped q107 lacks — the 3-key " +
        "join dropped triangles (dc = dv functional dependency broken)")
    assert(legacy.count() > 0, "empty graph would vacuously pass")
  }
}
