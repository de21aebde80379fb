package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQuery

/** CPU accounting of the benchmark's ops. An op's cost is the CPU time of
  * the Java threads that drive it (the calling thread, and a streaming
  * query's micro-batch thread when the op feeds one) plus the executor
  * CPU of the Spark tasks it launched. Wall time on a shared virtual
  * machine swings with the CPU time neighbours take (20-40% between runs
  * of the same code); CPU time does not count it.
  */
object Cpu {
  private val mx = ManagementFactory.getThreadMXBean

  /** CPU ns used so far by the given Java threads (0 for ended ones). */
  def threadsNs(ids: Seq[Long]): Long = ids.map(id => mx.getThreadCpuTime(id).max(0L)).sum

  def currentThreadId: Long = Thread.currentThread().getId

  /** The id of `q`'s micro-batch thread, which Spark names after the
    * query's run id.
    */
  def streamThread(q: StreamingQuery): Long = {
    val runId = q.runId.toString
    mx.getThreadInfo(mx.getAllThreadIds).filter(_ != null)
      .find(_.getThreadName.contains(runId)).map(_.getThreadId)
      .getOrElse(sys.error(s"no micro-batch thread for query ${q.name}"))
  }
}

/** Executor CPU of every finished task, with its launch time (epoch ms)
  * and the streaming query whose job ran it ("" for batch jobs). An op
  * in a closed loop owns the tasks launched between its start and its
  * end.
  */
final class TaskCpu extends SparkListener {
  import TaskCpu.Task
  private val stageQuery = TrieMap.empty[Int, String]
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val ends = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val q = Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      .getOrElse("")
    e.stageIds.foreach(stageQuery.put(_, q))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(e.taskMetrics).foreach { m =>
      tasks.add(Task(e.taskInfo.launchTime, stageQuery.getOrElse(e.stageId, ""),
        m.executorCpuTime + m.executorDeserializeCpuTime))
    }
    ends.incrementAndGet()
  }

  /** Waits until no task event has arrived for 300 ms (at most 10 s). */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (ends.get != last && System.currentTimeMillis() < deadline) {
      last = ends.get
      Thread.sleep(300)
    }
  }

  /** Executor CPU ns of the tasks launched in [fromMs, toMs), of the
    * streaming query `query` only when it is given.
    */
  def ns(fromMs: Long, toMs: Long, query: Option[java.util.UUID] = None): Long =
    tasks.asScala.iterator
      .filter(t => t.launchMs >= fromMs && t.launchMs < toMs &&
        query.forall(_.toString == t.query))
      .map(_.ns).sum
}

object TaskCpu {
  private final case class Task(launchMs: Long, query: String, ns: Long)
}
