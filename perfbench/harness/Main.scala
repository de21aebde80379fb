package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <input dir> --tmp <run root> --out <raw json> --cores <n>
  * }}}
  *
  * It runs one workload against the engine's public functions on a
  * `local[cores]` session and writes the raw samples (per-op schedule and
  * outcome times, failures, set-up time, heap, and in traced runs
  * the per-layer numbers and spans) as one JSON object to `--out`.
  * Statistics are computed by `run.py`, so the percentile and failure
  * rules live in one tested place.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      traced: Boolean, data: String, tmp: String, out: String, cores: Int)

  /** The workload result every workload returns. `ops` holds one entry
    * per attempted operation; `items` is the throughput numerator over
    * `itemsSeconds`; `setupS` is the workload's set-up after the session
    * started.
    */
  final case class Result(ops: Seq[Op], items: Double, itemsSeconds: Double,
      setupS: Double, extra: Map[String, Any] = Map.empty)

  /** One attempted operation. Times are ms since the run's time origin;
    * `sched` is when the op was due (open loop) or started (closed loop).
    * `done` is empty when the op never finished. `timed` ops feed the
    * cost percentiles; an op's cost is `costMs` when set (CPU time), else
    * `done - sched`.
    */
  final case class Op(name: String, sched: Double, done: Option[Double],
      error: Option[String] = None, wrong: Option[String] = None,
      timed: Boolean = true, costMs: Option[Double] = None)

  private val origin = System.nanoTime()
  def nowMs(): Double = (System.nanoTime() - origin) / 1e6

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("tmp"), need("out"),
      need("cores").toInt)
  }

  /** The session confs Bench uses, plus run-isolated directories. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "50000")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", s"${a.tmp}/warehouse")
      .config("spark.local.dir", s"${a.tmp}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val heap = new HeapWatch
    val spark = session(a)
    val sessionReadyMs = System.currentTimeMillis()
    val trace = new Trace(a.traced, spark)
    val res = try a.workload match {
      case "query_suite" => QuerySuite.run(spark, a, trace, heap)
      case "broker_stream" => BrokerStream.run(spark, a, trace, heap)
      case w => sys.error(s"unknown workload '$w'")
    } finally trace.close()
    heap.sample()
    trace.layers("jvm.live_heap_peak_mb") = heap.peakMb
    val confs = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.sql.codegen.cache.maxEntries",
      "spark.sql.adaptive.enabled", "spark.sql.ansi.enabled")
      .map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "traced" -> a.traced,
      "jvm_to_session_s" -> (sessionReadyMs - jvmStartMs) / 1000.0,
      "setup_s" -> res.setupS,
      "items" -> res.items, "items_seconds" -> res.itemsSeconds,
      "ops" -> res.ops.map { o =>
        Map("name" -> o.name, "sched" -> o.sched, "done" -> o.done.map(Double.box).orNull,
          "error" -> o.error.orNull, "wrong" -> o.wrong.orNull,
          "timed" -> o.timed, "cost_ms" -> o.costMs.map(Double.box).orNull)
      },
      "live_heap_peak_mb" -> heap.peakMb,
      "spark_version" -> spark.version,
      "jvm" -> System.getProperty("java.vm.version"),
      "confs" -> confs) ++ res.extra
    if (a.traced) {
      out("layers") = trace.layers.toMap
      out("spans") = trace.spanRows
      out("run_id") = trace.runId
    }
    Files.writeString(Paths.get(a.out), Json(out.toMap) + "\n")
    spark.stop()
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** Progress line on stderr (kept in the run's log). */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${nowMs() / 1000}%.3f $msg")

  def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
}

/** Peak heap occupancy right after a full collection, sampled at the
  * points a workload chooses (end of setup, end of the timed window).
  * The second collection, after Spark's cleaner has had a moment to drop
  * what the first one released, makes the reading repeatable.
  */
final class HeapWatch {
  private var peak = 0.0
  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = math.max(peak, used / 1048576.0)
  }
  def peakMb: Double = peak
}

/** Minimal JSON writer for the raw result (numbers, strings, booleans,
  * null, sequences and string-keyed maps).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
