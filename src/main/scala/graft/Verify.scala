package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure discipline (the round-11 lesson): a query that throws must
  * surface as a LOUD artifact, not a silently missing row. Each failure
  * gets (a) an EMPTY `outDir/<name>` directory, so a compare that globs
  * output dirs still sees the name with no parquet inside, and (b) an
  * entry in `outDir/errors.json`, so a compare that reads it can emit an
  * explicit err row. The run also cross-checks emitted-dir count against
  * the requested query count and screams on mismatch.
  */
object Verify {

  /** Runs each query, writes its result under `outDir/<name>`, and
    * returns name → error message for every query that failed. Pure of
    * session construction so specs can drive it with a test session.
    */
  def runQueries(
      spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String,
      outDir: String): Map[String, String] = {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        // leave an empty marker dir so the name stays visible to any
        // consumer that enumerates outputs instead of oracle keys
        new java.io.File(s"$outDir/$name").mkdirs()
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v.take(500))}" }
        .mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size}/${queries.size} queries " +
        s"FAILED: ${errors.keys.mkString(",")}")
    errors.toMap
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // dump timestamps as TIMESTAMP_MICROS (not INT96) so any parquet
      // reader the driver uses sees the same values DuckDB computes
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.quietWindowWarnings()
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: comma-separated query names; unset (the driver's
    // invocation) dumps the full surface. Unknown names fail FAST — a
    // typo would otherwise produce an empty run that the oracle compare
    // reports as "0/0 OK", reading as green without executing anything
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.mkString(",")}")
    }
    // Coverage cross-check against the ORACLE key set (the old
    // output-dir count was unreachable: both success and failure paths
    // emit a dir by construction): a query registered without an oracle
    // row gets only the driver's weaker rows-only check, and an oracle
    // row without a query would never be exercised — both are silent
    // coverage holes worth screaming about.
    val unoracled = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    val unqueried = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    if (unoracled.nonEmpty)
      System.err.println(s"[verify] COVERAGE: ${unoracled.size} queries " +
        s"have NO oracle SQL: ${unoracled.toSeq.sorted.mkString(",")}")
    if (unqueried.nonEmpty)
      System.err.println(s"[verify] COVERAGE: ${unqueried.size} oracle " +
        s"rows have NO query: ${unqueried.toSeq.sorted.mkString(",")}")
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    runQueries(spark, selected, sfDir, outDir)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
