package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, when}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the post-`Tables.load` dtype of every testdata table.
  *
  * The driver regenerates `/root/testdata` between rounds and has already
  * shipped `events.ts` under two different parquet encodings
  * (TIMESTAMP(NANOS) read as LongType, and TIMESTAMP_NTZ(MICROS)).
  * `Tables.load` normalizes either to a single `ts: TIMESTAMP` contract;
  * this spec makes the NEXT encoding shift fail in seconds instead of
  * silently breaking a slice of the gated query surface mid-round.
  */
class TablesSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def loaded(table: String): Seq[(String, String)] =
    Tables.load(spark, dir, table).schema.fields.toSeq
      .map(f => f.name -> f.dataType.simpleString)

  val expected: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq(
      "n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"),
    "customer" -> Seq(
      "c_custkey" -> "bigint", "c_name" -> "string", "c_nationkey" -> "int",
      "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "supplier" -> Seq(
      "s_suppkey" -> "bigint", "s_name" -> "string", "s_nationkey" -> "int",
      "s_acctbal" -> "double"),
    "part" -> Seq(
      "p_partkey" -> "bigint", "p_name" -> "string", "p_brand" -> "string",
      "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "double"),
    "orders" -> Seq(
      "o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"),
    "lineitem" -> Seq(
      "l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp_ntz"),
    // ts MUST come out as plain TIMESTAMP whatever the file encodes —
    // that is the whole point of the loader's normalization branches.
    "events" -> Seq(
      "event_id" -> "bigint", "ts" -> "timestamp", "user_id" -> "bigint",
      "event_type" -> "string", "value" -> "double", "props" -> "string"),
    "documents" -> Seq(
      "doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq(
      "vec_id" -> "bigint", "embedding" -> "array<float>", "label" -> "int"))

  test("Tables.names covers exactly the pinned tables") {
    assert(Tables.names.toSet == expected.keySet)
  }

  for (table <- Tables.names)
    test(s"$table loads with the pinned schema") {
      assert(loaded(table) == expected(table))
    }

  test("a table rewritten with a newer mtime is re-inferred") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tables-")
    val table = tmp.resolve("region.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(Tables.path(dir, "region")), table)
    val before = Tables.load(spark, tmp.toString, "region")
    assert(before.columns.toSeq == Seq("r_regionkey", "r_name"))
    // rewrite the table's single file with one extra column
    val staged = tmp.resolve("staged").toString
    before.withColumn("r_extra", org.apache.spark.sql.functions.lit(7L))
      .coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    val mtime = table.toFile.lastModified()
    java.nio.file.Files.move(part, table,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(table.toFile.setLastModified(mtime + 10000L))
    val after = Tables.load(spark, tmp.toString, "region")
    assert(after.columns.toSeq == Seq("r_regionkey", "r_name", "r_extra"))
    assert(after.filter(col("r_extra") === 7L).count() == before.count())
  }

  /** The columns among `cols` that hold a null in `df` (one pass). */
  private def nullColumns(df: DataFrame, cols: Seq[String]): Seq[String] = {
    val r = df.select(cols.map(c => count(when(col(c).isNull, 1)).as(c)): _*)
      .head()
    cols.filter(c => r.getAs[Long](c) > 0)
  }

  // The columns behind the "no-op" null filters: Temporal.eventDayCounts
  // (AnomalyStream) and TextAnalysis.lengthHist (DriftStream) drop rows
  // the gated queries' oracle SQL would keep, and so does the q107/q222
  // null-endpoint filter in Graph.qTriangles (DupGraph.edges draws its
  // endpoints from documents.doc_id). Those filters are no-ops only
  // while the corpus carries no nulls here.
  private val nullFreeFilterColumns = Seq(
    "events" -> Seq("event_type", "ts"),
    "documents" -> Seq("source", "text", "doc_id"))

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"the fold-summary filter columns hold no nulls at $sf") {
      for ((table, cols) <- nullFreeFilterColumns) {
        val nulls = nullColumns(Tables.load(spark, s"/root/testdata/$sf", table), cols)
        assert(nulls.isEmpty, s"$sf $table has nulls in ${nulls.mkString(", ")}")
      }
    }

  test("the null check rejects a null-bearing fixture") {
    import spark.implicits._
    val docs = Seq((1L, Option("web"), Option.empty[String]),
      (2L, Option.empty[String], Option("some text")))
      .toDF("doc_id", "source", "text")
    assert(nullColumns(docs, Seq("doc_id", "source", "text")) ==
      Seq("source", "text"))
  }
}
