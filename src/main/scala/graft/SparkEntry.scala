package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query (Q9, TPC-H Q1 shape) on sf0.001; driver smoke-checks
    * rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q9Agg.build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Queries.all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Silence WindowExec's per-plan "No Partition Defined" WARN in the
    * mains that print to a console. PlanLintSpec already pins and
    * justifies every unpartitioned window, so the repeated line is
    * noise that buries real warnings (it was the whole tail of Verify's
    * output). Call after `setLogLevel`, which resets only the root.
    */
  private[graft] def quietWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
