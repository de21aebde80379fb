package graft.streaming

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import scala.collection.concurrent.TrieMap
import graft.LocalFiles
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** A managed stream: name-keyed like the reference's `Workload`
  * (part4/WorkloadManagementService.scala:35-42 — equality by
  * `workloadName` only, so sets of workloads diff by name).
  */
final case class Workload(workloadName: String, topic: String,
    streamParallelism: Int) {
  override def equals(o: Any): Boolean = o match {
    case w: Workload => w.workloadName == workloadName
    case _ => false
  }
  override def hashCode(): Int = workloadName.hashCode
}

/** Desired-vs-existing diff (reference WorkloadReport,
  * part4/WorkloadManagementService.scala:44-50): starts = requested ∖
  * existing, stops = existing ∖ requested — the EXCEPT semantics Q16
  * exercises relationally.
  */
final case class WorkloadReport(requested: Set[Workload], existing: Set[String]) {
  def workloadsToStart: Set[Workload] =
    requested.filterNot(w => existing.contains(w.workloadName))
  def workloadsToDelete: Set[String] =
    existing.diff(requested.map(_.workloadName))
}

/** Poll-based desired-state store (reference W1 BasicDiscoveryService,
  * part4/WorkloadManagementService.scala:58-93): `set` swaps the desired
  * set; the manager's poll picks it up within one tick.
  */
final class WorkloadDiscovery {
  @volatile private var desired: Set[Workload] = Set.empty
  def set(ws: Set[Workload]): Unit = desired = ws
  def get(): Set[Workload] = desired
}

/** Dynamic workload lifecycle on `StreamingQueryManager` (reference W3
  * WorkloadManagementService, part4/WorkloadManagementService.scala:95-222):
  * discovery tick → diff → idempotent start / stop.
  *
  * Concurrency-limit mapping (reference P1 PermittedTaskExecutor,
  * part3/PermittedTaskExecutor.scala:41-167 — deliberately NOT ported):
  *  - global permit limit ≡ total executor cores — Spark's scheduler
  *    never runs more than `spark.cores.max` tasks, which is exactly the
  *    global cap the permit queue enforced;
  *  - per-workload limit ≡ FAIR scheduler pools: `spark.scheduler.mode=
  *    FAIR` plus a per-query pool (set via the thread-local
  *    `spark.scheduler.pool` before `start()`), with pool `minShare`/
  *    `weight` giving each workload its slice; source admission
  *    (`maxFilesPerTrigger`/`maxOffsetsPerTrigger`) bounds per-trigger
  *    intake (reference per-stream `StreamParallelism`);
  *  - limit precedence "global first, then per-stream" (reference
  *    README.md:142-144) holds by construction: pools share one core
  *    budget, a pool can never exceed the cluster-wide cap.
  */
final class WorkloadManager(spark: SparkSession,
    builder: Workload => StreamingQuery, schedulerPool: Option[String] = None,
    drainGraceMs: Long = 60000) {

  /** Drain-then-stop: wait (≤ grace) for the current trigger to complete,
    * then stop the query between batches.
    *
    * C1 drain grace (reference ShutdownHook's 1-minute drainAndShutdown,
    * part1/PulsarPekkoSource.scala:75-81): `stop()` waits up to
    * `drainGraceMs` for the stream-execution thread to wind down instead
    * of Spark's 0 = wait-forever default. The conf is scoped to the stop
    * call (set/restore around it) rather than mutated session-wide — the
    * session is shared with streams this manager doesn't own. A query
    * that is STILL draining when the grace expires throws
    * TimeoutException from `stop()`; that query keeps winding down in the
    * background and must not abort the rest of a reconcile/shutdown pass,
    * so the exception is swallowed here.
    */
  private def gracefulStop(q: StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + drainGraceMs
    while (q.isActive && q.status.isTriggerActive
        && System.currentTimeMillis() < deadline) {
      Thread.sleep(10)
    }
    val key = "spark.sql.streaming.stopTimeout"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, drainGraceMs.toString)
    try q.stop()
    catch { case _: java.util.concurrent.TimeoutException => () }
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // name → running query (reference T8: TrieMap registry,
  // part4/WorkloadManagementService.scala:127-129)
  private val running = TrieMap[String, StreamingQuery]()
  private var poller: Option[ScheduledExecutorService] = None

  /** Names of workloads whose query is live (a dead query — reference C4
    * fail-stop — drops out and gets restarted by the next reconcile).
    */
  def existing(): Set[String] = {
    running.filterInPlace((_, q) => q.isActive)
    running.keySet.toSet
  }

  def report(requested: Set[Workload]): WorkloadReport =
    WorkloadReport(requested, existing())

  /** One discovery cycle: diff then act (reference
    * part4/WorkloadManagementService.scala:161-202). Idempotent: a
    * workload already running is never started twice (T6 duplicate guard,
    * `:122-124`).
    */
  def reconcile(requested: Set[Workload]): WorkloadReport = synchronized {
    val rep = report(requested)
    // a builder may start its query with a bare writeStream
    LocalFiles.install(spark)
    rep.workloadsToStart.foreach { w =>
      if (!running.contains(w.workloadName)) {
        // route through Pools.withPool so the thread-local pool is restored
        // after start() — otherwise every later job from this thread would
        // silently inherit the last workload's FAIR pool
        val query = schedulerPool match {
          case Some(p) => Pools.withPool(spark, p)(builder(w))
          case None => builder(w)
        }
        running.put(w.workloadName, query)
      }
    }
    rep.workloadsToDelete.foreach { name =>
      // T8 delete path: deregister, then graceful stop (C1/C2: in-flight
      // batch drains first; checkpoint guarantees no loss on resume)
      running.remove(name).foreach(gracefulStop)
    }
    rep
  }

  /** Discovery tick (reference S3: `Source.tick(0, 5 s)`,
    * part4/WorkloadManagementService.scala:165-166).
    */
  def startPolling(discovery: WorkloadDiscovery, intervalMs: Long): Unit =
    synchronized {
      require(poller.isEmpty, "already polling")
      val ex = Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "graft-workload-discovery"); t.setDaemon(true); t
      }
      ex.scheduleAtFixedRate(
        () => try reconcile(discovery.get()) catch { case _: Throwable => () },
        0, intervalMs, TimeUnit.MILLISECONDS)
      poller = Some(ex)
    }

  /** Coordinated shutdown (reference C5 CoordinatedShutdown +
    * ShutdownHook.drainAndShutdown): stop discovery, then drain every
    * query.
    */
  def shutdown(): Unit = synchronized {
    poller.foreach(_.shutdownNow())
    poller = None
    running.keys.toSeq.foreach(n => running.remove(n).foreach(gracefulStop))
  }
}
