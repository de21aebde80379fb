package graft.streaming

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Periodic progress gauges (reference C7: `scheduleAtFixedRate` logging
  * "N messages in progress", part2/MessageProcessor.scala:35-45, and the
  * executor's Running/Queued/Offered report,
  * part3/PermittedTaskExecutor.scala:181-187).
  *
  * Spark publishes the same signals for free through
  * `StreamingQueryListener`: rows per trigger, processing rates, and
  * termination (the reference's supervision observation, C4). This
  * listener snapshots them per query name so tests can assert the
  * log-proofs executably (SURVEY §5.2).
  */
final class Gauges extends StreamingQueryListener {

  final case class Snapshot(
      batches: Long, totalRows: Long, lastBatchRows: Long, maxBatchRows: Long,
      terminated: Boolean, error: Option[String],
      lastTriggerMs: Long = 0, maxTriggerMs: Long = 0,
      lastAddBatchMs: Long = 0, maxAddBatchMs: Long = 0)

  private val empty = Snapshot(0, 0, 0, 0, terminated = false, None)
  private val byName = TrieMap[String, Snapshot]()
  private val byId = TrieMap[java.util.UUID, String]()

  def snapshot(name: String): Option[Snapshot] = byName.get(name)
  def all: Map[String, Snapshot] = byName.toMap

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    byId.put(e.id, e.name)
    byName.putIfAbsent(e.name, empty)
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val name = e.progress.name
    val prev = byName.getOrElse(name, empty)
    // phase times in ms; an idle trigger has no addBatch: keep the last
    def ms(phase: String, last: Long): Long =
      Option(e.progress.durationMs.get(phase)).fold(last)(_.longValue)
    val trigger = ms("triggerExecution", prev.lastTriggerMs)
    val addBatch = ms("addBatch", prev.lastAddBatchMs)
    byName.put(name, prev.copy(
      batches = prev.batches + 1,
      totalRows = prev.totalRows + e.progress.numInputRows,
      lastBatchRows = e.progress.numInputRows,
      maxBatchRows = math.max(prev.maxBatchRows, e.progress.numInputRows),
      lastTriggerMs = trigger, maxTriggerMs = math.max(prev.maxTriggerMs, trigger),
      lastAddBatchMs = addBatch,
      maxAddBatchMs = math.max(prev.maxAddBatchMs, addBatch)))
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    byId.get(e.id).foreach { name =>
      byName.updateWith(name)(_.map(_.copy(terminated = true,
        error = e.exception)))
    }
}
