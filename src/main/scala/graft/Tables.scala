package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * One parquet file per table under a scale-factor directory, e.g.
  * `/root/testdata/sf0.01/lineitem.parquet`. All queries go through
  * here so scans stay declarative (column pruning + predicate pushdown
  * reach the parquet reader via Catalyst).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, table: String): String = s"$sfDir/$table.parquet"

  private val schemas =
    new graft.operators.Scratch.Memo[(String, Long), StructType]

  /** The file schema of the parquet at `p`, inferred once per (path,
    * modification time) and never again: inference is a Spark job (a
    * footer read), ~90 ms per call at sf0.1, that every query paid on
    * every `load`. The modification time is the newest of the path and,
    * for a directory, its entries, so a rewritten table is re-inferred.
    * Metadata only — every read still scans the files. The schema
    * depends on `nanosAsLong`, which [[load]] sets before every call.
    */
  private def fileSchema(spark: SparkSession, p: String): StructType = {
    val f = new java.io.File(p)
    val mtime = (f +: Option(f.listFiles()).getOrElse(Array.empty[java.io.File]))
      .map(_.lastModified()).max
    schemas((p, mtime))(spark.read.parquet(p).schema)
  }

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    // events.ts has shipped as TWO encodings across testdata generations:
    //   (a) parquet TIMESTAMP(NANOS) — Spark only reads it via the
    //       nanosAsLong legacy mode, surfacing LongType epoch-nanos;
    //   (b) parquet TIMESTAMP(isAdjustedToUTC=false, MICROS) — Spark 4
    //       reads it as TIMESTAMP_NTZ.
    // Both branches normalize to TimestampType at µs precision (lossless:
    // the nano values are µs-precision; NTZ→TZ is value-identical under
    // the UTC session every entry point sets), so downstream code can
    // rely on a single `ts: TIMESTAMP` contract.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the first engine call of every batch workload
    LocalFiles.install(spark)
    val p = path(sfDir, table)
    val df = spark.read.schema(fileSchema(spark, p)).parquet(p)
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == org.apache.spark.sql.types.LongType && f.name == "ts")
        // `div` (integral division), NOT `/`: epoch-nanos exceed the 53-bit
        // double mantissa, so float division would corrupt microseconds
        d.withColumn(f.name,
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr(s"${f.name} div 1000")))
      else if (f.dataType == org.apache.spark.sql.types.TimestampNTZType && f.name == "ts")
        d.withColumn(f.name,
          org.apache.spark.sql.functions.col(f.name)
            .cast(org.apache.spark.sql.types.TimestampType))
      else d
    }
  }
}
