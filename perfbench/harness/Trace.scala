package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder. Untraced (`enabled = false`) every method
  * is a pass-through and no listener is registered, so end-to-end
  * numbers are measured without it.
  *
  * Traced, it keeps in memory until the run ends:
  *  - a span (name, start, end, parent) around every layer call the
  *    benchmark makes; all spans share the run id;
  *  - per-layer Spark work from a `SparkListener`: jobs are attributed
  *    to the `perfbench.layer` local property set by [[layer]] on the
  *    calling thread, or to their streaming query id;
  *  - every streaming progress event (`StreamingQueryListener`).
  */
final class Trace(val enabled: Boolean, spark: SparkSession) {
  val runId: String = java.util.UUID.randomUUID().toString

  final case class Span(id: Int, parent: Int, name: String, start: Double,
      end: Double)

  /** Spark work attributed to one layer or streaming query. */
  final class Work {
    val jobs = new AtomicLong
    val stages: mutable.Set[Int] = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]().asScala
    val tasks = new AtomicLong
    val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val inputBytes = new AtomicLong
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val spill = new AtomicLong
    val outputBytes = new AtomicLong
  }

  private val spans = new ConcurrentLinkedQueue[Span]
  private val nextId = new AtomicInteger
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  val work = TrieMap.empty[String, Work]
  private val stageKey = TrieMap.empty[Int, String]
  /** Jobs per [[layer]] span name. */
  val jobsBySpan = TrieMap.empty[String, AtomicLong]
  val progress = TrieMap.empty[String, ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]]
  /** Per-layer metric values a workload reports: a number, or a sample
    * list that `run.py` reduces to its median.
    */
  val layers = mutable.LinkedHashMap.empty[String, Any]

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = Main.nowMs()
      try body
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, t0, Main.nowMs()))
      }
    }

  /** [[span]], with the Spark jobs `body` submits from this thread
    * attributed to `layer`.
    */
  def layer[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Trace.LayerKey)
      val prevSpan = sc.getLocalProperty(Trace.SpanKey)
      sc.setLocalProperty(Trace.LayerKey, layer)
      sc.setLocalProperty(Trace.SpanKey, name)
      try span(name)(body)
      finally {
        sc.setLocalProperty(Trace.LayerKey, prev)
        sc.setLocalProperty(Trace.SpanKey, prevSpan)
      }
    }

  def workOf(key: String): Work = work.getOrElseUpdate(key, new Work)

  /** Per-query key for jobs a streaming query runs. */
  def queryKey(id: java.util.UUID): String = s"query:$id"

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val key = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .map(q => s"query:$q")
        .orElse(props.flatMap(p => Option(p.getProperty(Trace.LayerKey))))
        .getOrElse("unattributed")
      workOf(key).jobs.incrementAndGet()
      props.flatMap(p => Option(p.getProperty(Trace.SpanKey))).foreach { s =>
        jobsBySpan.getOrElseUpdate(s, new AtomicLong).incrementAndGet()
      }
      e.stageIds.foreach(s => stageKey.put(s, key))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val w = workOf(stageKey.getOrElse(e.stageId, "unattributed"))
      w.tasks.incrementAndGet()
      w.stages += e.stageId
      Option(e.taskMetrics).foreach { m =>
        w.runMs.addAndGet(m.executorRunTime)
        w.cpuNs.addAndGet(m.executorCpuTime)
        w.gcMs.addAndGet(m.jvmGCTime)
        w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        w.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        w.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        w.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.getOrElseUpdate(e.progress.id.toString, new ConcurrentLinkedQueue)
        .add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for queued listener events so counts are complete. */
  def settle(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 5000
    var last = -1L
    var now = work.values.map(_.tasks.get).sum
    while (now != last && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      last = now
      now = work.values.map(_.tasks.get).sum
    }
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  def spanRows: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end)
  }

  /** Durations (ms) of the spans whose name starts with `prefix` and
    * that started at or after `from`.
    */
  def spansAfter(prefix: String, from: Double): Seq[Double] =
    spans.asScala.toSeq.filter(s => s.name.startsWith(prefix) && s.start >= from)
      .map(s => s.end - s.start)

  /** The standard Spark-work block for one layer, under `prefix`. */
  def putWork(prefix: String, w: Work, wallS: Double, cores: Int,
      fields: Seq[String]): Unit = {
    val all = Map(
      "jobs" -> w.jobs.get.toDouble,
      "stages" -> w.stages.size.toDouble,
      "tasks" -> w.tasks.get.toDouble,
      "executor_run_s" -> w.runMs.get / 1000.0,
      "executor_cpu_s" -> w.cpuNs.get / 1e9,
      "gc_s" -> w.gcMs.get / 1000.0,
      "core_util" -> (if (wallS > 0) w.runMs.get / 1000.0 / (wallS * cores) else 0.0),
      "input_bytes" -> w.inputBytes.get.toDouble,
      "shuffle_write_bytes" -> w.shuffleWrite.get.toDouble,
      "shuffle_read_bytes" -> w.shuffleRead.get.toDouble,
      "spill_bytes" -> w.spill.get.toDouble,
      "output_bytes" -> w.outputBytes.get.toDouble)
    fields.foreach(f => layers(s"$prefix.$f") = all(f))
  }
}

object Trace {
  val LayerKey = "perfbench.layer"
  val SpanKey = "perfbench.span"
}
