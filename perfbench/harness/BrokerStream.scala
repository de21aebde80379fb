package graft.perfbench

import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.{OrderedProcessor, Payloads, ProcessStage, RepublishPipeline, Workload, WorkloadManager}
import graft.streaming.broker.{BrokerLag, BrokerOffsets, BrokerTopic, InMemoryBroker}
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** `broker_stream`: the paper's own surface, on durable broker topics.
  *
  * The harness thread appends seeded messages through the broker's
  * producer API (`TopicLog.append` / `appendKeyed`), alternating between
  *  - a keyless topic consumed by [[RepublishPipeline]] (10% injected
  *    first-delivery failures, 3 hops, redelivery, dead-letter topic), and
  *  - a keyed topic with Zipf-skewed keys consumed by [[OrderedProcessor]]
  *    (injected first-attempt failures; a failed head and the messages
  *    behind it retry when the key's next message arrives), whose output
  *    is republished keyed to an output topic.
  * Both pipelines are started through one [[WorkloadManager]] reconcile.
  *
  * Phase A is an open loop at a fixed rate: each message is timed from
  * its scheduled send time to its first outcome the benchmark observes —
  * for the republish pipeline the commit of the micro-batch that
  * processed it (its progress event), for the ordered processor its row
  * in the output topic. Phase B appends a keyless backlog at once and
  * counts the CPU time the republish query spends until every backlog
  * message has run all its hops: its micro-batch thread plus its Spark
  * tasks, and nothing of the harness's own threads. On a shared virtual
  * machine the wall time of a capacity-bound drain swings with the CPU
  * time the host takes away, which CPU time does not count. Each phase
  * ends with flush messages to the keys still holding an unfinished
  * message, so no key stays blocked behind a failed head, and with every
  * keyless hop chain run out. Failure injection is deterministic, so
  * delivery is accounted exactly per message at the end.
  */
object BrokerStream {

  /** Phase A's send rate (messages/s over both topics). Probed on 4
    * cores at 20, 40 and 80 msg/s: phase A ended with 58, 82 and 155
    * messages of lag (about two triggers' worth, so no growing backlog
    * within the phase) and a median latency of 2.3, 1.7 and 2.2 s; at
    * 20 msg/s a key waits longer for the next message that retries its
    * failed head. The rate is half the highest one probed.
    */
  val Rate = 40.0
  val PhaseAShare = 0.25
  val BacklogMsgs = 1800
  val Partitions = 4
  val Keys = 64
  val ZipfS = 1.1
  val FailPercent = 10
  val MaxAttempts = 5
  val FlushEveryMs = 1500.0
  val Cfg = RepublishPipeline.Config(failPercent = 10, maxHops = 3,
    maxDeliveries = 3, admitPerTrigger = 256)

  val keyedSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("seq", LongType),
    StructField("name", StringType), StructField("numPublishes", IntegerType)))
  val outSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("seq", LongType),
    StructField("name", StringType), StructField("numPublishes", IntegerType),
    StructField("attempts", IntegerType), StructField("status", StringType)))

  /** One generated message and what the benchmark observed of it. */
  final class Msg(val idx: Int, val keyed: Boolean, val name: String,
      val key: String, val seq: Long, val sched: Double, val timed: Boolean) {
    @volatile var done: Option[Double] = None
    @volatile var wrong: Option[String] = None
  }

  def run(spark: SparkSession, a: Main.Args, trace: Trace,
      heap: HeapWatch): Main.Result = {
    import spark.implicits._
    val root = s"${a.tmp}/broker"
    val rnd = new scala.util.Random(a.seed)
    val zipf = {
      val w = (1 to Keys).map(k => 1.0 / math.pow(k, ZipfS))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def zipfKey(): String = {
      val u = rnd.nextDouble()
      s"k${zipf.indexWhere(_ >= u).max(0)}"
    }

    val setup0 = Main.nowMs()
    val in = BrokerTopic.create(spark, "pb-in", Payloads.payloadSchema,
      Partitions, logDir = Some(s"$root/in"))
    val dlq = BrokerTopic.create(spark, "pb-dlq", Payloads.payloadSchema,
      Partitions, logDir = Some(s"$root/dlq"))
    val kin = BrokerTopic.create(spark, "pb-kin", keyedSchema, Partitions,
      keyColumn = Some("key"), logDir = Some(s"$root/kin"))
    val kout = BrokerTopic.create(spark, "pb-kout", outSchema, Partitions,
      keyColumn = Some("key"), logDir = Some(s"$root/kout"))
    val inLog = InMemoryBroker.topic(in.name)
    val kinLog = InMemoryBroker.topic(kin.name)
    val koutLog = InMemoryBroker.topic(kout.name)

    val msgs = mutable.ArrayBuffer.empty[Msg]
    val byKeySeq = TrieMap.empty[(String, Long), Msg]
    // republish outcomes: per partition, (offset, message) in offset order
    val pending = Array.fill(Partitions)(new ConcurrentLinkedQueue[(Long, Msg)])
    val appendMs = new ConcurrentLinkedQueue[Double]
    val nextSeq = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var rr = 0

    def newMsg(keyed: Boolean, sched: Double, timed: Boolean,
        key: String = "", name: String = ""): Msg = {
      val idx = msgs.size
      val nm = if (name.nonEmpty) name else s"m${a.seed}-$idx"
      val m = if (keyed) {
        val k = if (key.nonEmpty) key else zipfKey()
        val s = nextSeq(k)
        nextSeq(k) = s + 1
        new Msg(idx, true, nm, k, s, sched, timed)
      } else new Msg(idx, false, nm, "", -1, sched, timed)
      msgs += m
      if (keyed) byKeySeq.put((m.key, m.seq), m)
      m
    }

    def send(m: Msg): Unit = {
      val t0 = System.nanoTime()
      if (m.keyed)
        kinLog.appendKeyed(Seq(Row(m.key, m.seq, m.name, 0, kin.name, 0, 0L)), 0)
      else {
        val p = rr % Partitions
        rr += 1
        // the offset is only known once appended: append and register
        // under the lock the outcome listener takes to pop this partition
        pending(p).synchronized {
          val end = inLog.append(p, Seq(Row(m.name, 0, in.name, 0, 0L)))
          pending(p).add((end - 1, m))
        }
      }
      appendMs.add((System.nanoTime() - t0) / 1e6)
    }

    /** A name for key `k`'s next message that the injected failure
      * passes, so it never blocks its key.
      */
    def safeName(k: String, prefix: String): String = {
      val seq = nextSeq(k)
      Iterator.from(0).map(j => s"$prefix${a.seed}-${msgs.size}-$j")
        .find(n => !OrderedProcessor.deterministicFailure(FailPercent)(
          OrderedProcessor.Msg(k, seq, n, 0), 0)).get
    }

    /** Until all of `ms` have their outcome (or the timeout), sends each
      * key that still holds an unfinished message a message that never
      * fails, at most one per key per FlushEveryMs: a failed head retries
      * only when its key gets traffic in a LATER micro-batch, so one flush
      * is not always enough.
      */
    val lastFlush = mutable.Map.empty[String, Double]
    def settle(ms: => Seq[Msg], timeoutMs: Double): Unit = {
      val deadline = Main.nowMs() + timeoutMs
      while (ms.exists(_.done.isEmpty) && Main.nowMs() < deadline) {
        ms.filter(m => m.keyed && m.done.isEmpty).map(_.key).distinct.sorted.foreach { k =>
          if (Main.nowMs() - lastFlush.getOrElse(k, Double.MinValue) >= FlushEveryMs) {
            send(newMsg(keyed = true, Main.nowMs(), timed = false, key = k,
              name = safeName(k, "flush")))
            lastFlush(k) = Main.nowMs()
          }
        }
        Thread.sleep(5)
      }
    }

    // republish outcome: the progress event of the batch that read it
    val repId = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val outcome = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == repId.get) {
          val now = Main.nowMs()
          e.progress.sources.foreach { s =>
            BrokerOffsets.fromJson(s.endOffset).parts.foreach { case (p, end) =>
              val q = pending(p)
              q.synchronized {
                while (!q.isEmpty && q.peek()._1 < end) {
                  val (_, m) = q.poll()
                  if (m.done.isEmpty) m.done = Some(now)
                }
              }
            }
          }
        }
    }
    spark.streams.addListener(outcome)

    // ordered outcome: its row in the output topic, polled
    val seenOut = Array.fill(Partitions)(0L)
    val lastSeq = mutable.Map.empty[String, Long]
    def pollOut(): Unit = (0 until Partitions).foreach { p =>
      val end = koutLog.endOffset(p)
      if (end > seenOut(p)) {
        val now = Main.nowMs()
        koutLog.slice(p, seenOut(p), end).foreach { r =>
          val (k, s) = (r.getString(0), r.getLong(1))
          byKeySeq.get((k, s)) match {
            case Some(m) =>
              if (m.done.nonEmpty) m.wrong = Some("emitted twice")
              else {
                m.done = Some(now)
                if (r.getString(5) != "success" || r.getInt(3) != 1)
                  m.wrong = Some(s"status=${r.getString(5)} numPublishes=${r.getInt(3)}")
              }
              if (lastSeq.get(k).exists(_ >= s))
                m.wrong = Some(s"key $k: seq $s emitted after ${lastSeq(k)}")
              lastSeq(k) = s
            case None => () // warm-up traffic
          }
        }
        seenOut(p) = end
      }
    }
    @volatile var polling = true
    val poller = new Thread(() => while (polling) { pollOut(); Thread.sleep(2) },
      "perfbench-out-poller")
    poller.setDaemon(true)

    val builders: Workload => StreamingQuery = {
      case Workload("republish", _, _) =>
        val q = RepublishPipeline.start(in, dlq, s"$root/ckpt-republish", "republish", Cfg)
        repId.set(q.id)
        q
      case Workload("ordered", _, _) =>
        val ds = kin.readStream(admitPerTrigger = 1024)
          .select(col("key"), col("seq"), col("name"), col("numPublishes"))
          .as[OrderedProcessor.Msg]
        OrderedProcessor.run(ds, OrderedProcessor.deterministicFailure(FailPercent),
            MaxAttempts)
          .writeStream.queryName("ordered")
          .option("checkpointLocation", s"$root/ckpt-ordered")
          .foreachBatch { (out: Dataset[OrderedProcessor.Out], _: Long) =>
            kout.publish(out.toDF())
          }
          .start()
      case w => sys.error(s"unknown workload ${w.workloadName}")
    }
    val manager = new WorkloadManager(spark, builders)
    val startMs = trace.layer("workload", "WorkloadManager.reconcile") {
      val t0 = Main.nowMs()
      manager.reconcile(Set(Workload("republish", in.name, Partitions),
        Workload("ordered", kin.name, Partitions)))
      Main.nowMs() - t0
    }
    val queries = spark.streams.active.map(q => q.name -> q).toMap
    Main.log(s"started ${queries.keys.mkString(",")} in $startMs ms")
    poller.start()

    // warm-up: a first batch through each pipeline, outside the phases;
    // its keyed messages never fail, so set-up does not wait on flushes
    val warm = trace.span("setup.warmup") {
      (0 until 8).foreach { i =>
        val k = s"k${i % 4}"
        send(if (i % 2 == 0) newMsg(keyed = false, Main.nowMs(), timed = false)
          else newMsg(keyed = true, Main.nowMs(), timed = false, key = k,
            name = safeName(k, "warm")))
      }
      settle(msgs.toVector, 60000)
      val all = msgs.toVector
      Main.log(s"warm-up: ${all.count(_.done.isEmpty)} of ${all.size} unfinished")
      all
    }
    heap.sample()
    val setupS = (Main.nowMs() - setup0) / 1000

    // log entries each keyless message leaves: one per hop, plus one
    // redelivery per injected first-delivery failure
    val failures = mutable.Map.empty[String, Int]
    def expectFailures(ms: Seq[Msg]): Unit =
      failures ++= ms.filterNot(_.keyed).flatMap(m => (0 until Cfg.maxHops).map(h => (m.name, h)))
        .toDF("name", "numPublishes")
        .withColumn("fail", ProcessStage.injectedFailure(col("name"),
          col("numPublishes"), lit(0), Cfg.failPercent))
        .filter(col("fail")).select("name").collect()
        .groupBy(_.getString(0)).map { case (k, v) => k -> v.length }
    /** Waits until every keyless message sent so far has run all its hops. */
    def quiesce(timeoutMs: Double): Unit = {
      val expected = msgs.count(!_.keyed) * Cfg.maxHops + failures.values.sum
      val deadline = Main.nowMs() + timeoutMs
      while ((inLog.totalEntries != expected ||
          BrokerLag.totalLag(queries("republish"), in.name) > 0) && Main.nowMs() < deadline)
        Thread.sleep(20)
      Main.log(s"log entries ${inLog.totalEntries} of $expected")
    }
    expectFailures(warm)

    // phase A: open loop at Rate
    val lags = mutable.ArrayBuffer.empty[Long]
    def lagNow(): Long =
      BrokerLag.totalLag(queries("republish"), in.name) +
        BrokerLag.totalLag(queries("ordered"), kin.name)
    val late = mutable.ArrayBuffer.empty[Double]
    val phaseA = trace.span("phaseA") {
      val tA = Main.nowMs()
      val until = tA + a.seconds * 1000 * PhaseAShare
      var i = 0
      var due = tA
      while (due < until) {
        val waitNs = ((due - Main.nowMs()) * 1e6).toLong
        if (waitNs > 0) LockSupport.parkNanos(waitNs)
        val m = newMsg(keyed = i % 2 == 1, due, timed = true)
        late += Main.nowMs() - due
        send(m)
        if (trace.enabled && i % 5 == 0) lags += lagNow()
        i += 1
        due = tA + i * 1000.0 / Rate
      }
      if (trace.enabled) lags += lagNow()
      val endLag = if (trace.enabled) lagNow() else 0L
      settle(msgs.toVector.drop(warm.size), 30000)
      val ms = msgs.toVector.drop(warm.size)
      Main.log(s"phase A: ${ms.count(_.done.isEmpty)} of ${ms.size} unfinished")
      expectFailures(ms)
      quiesce(30000)
      (ms, endLag)
    }
    // phase B: a keyless backlog appended at once, then drained through
    // all its hops by the republish pipeline, per CPU-second of that
    // query alone: its micro-batch thread plus its Spark tasks
    val drainCpu = new TaskCpu
    spark.sparkContext.addSparkListener(drainCpu)
    val (backlog, drainS) = trace.span("phaseB") {
      val tB = Main.nowMs()
      val ms = (0 until BacklogMsgs).map(_ => newMsg(keyed = false, tB, timed = false))
      expectFailures(ms)
      val thread = Seq(Cpu.streamThread(queries("republish")))
      val c0 = Cpu.threadsNs(thread)
      val e0 = System.currentTimeMillis()
      ms.foreach(send)
      settle(ms, 60000)
      Main.log(s"phase B: ${ms.count(_.done.isEmpty)} of ${ms.size} unfinished")
      quiesce(60000)
      val threadNs = Cpu.threadsNs(thread) - c0
      val e1 = System.currentTimeMillis() + 1
      drainCpu.settle()
      (ms, (threadNs + drainCpu.ns(e0, e1, Some(queries("republish").id))) / 1e9)
    }
    spark.sparkContext.removeSparkListener(drainCpu)
    heap.sample()

    // account every message exactly
    val all = msgs.toVector
    val keyless = all.filterNot(_.keyed)
    polling = false
    poller.join()
    pollOut()
    manager.shutdown()
    spark.streams.removeListener(outcome)

    val entries = (0 until Partitions).flatMap(p => inLog.slice(p, 0, inLog.endOffset(p)))
    val perName = entries.groupBy(_.getString(0))
    keyless.foreach { m =>
      val got = perName.getOrElse(m.name, Seq.empty)
      val want = Cfg.maxHops + failures.getOrElse(m.name, 0)
      val hops = got.map(_.getInt(1)).toSet
      if (got.size != want || hops != (0 until Cfg.maxHops).toSet)
        m.wrong = Some(s"${got.size} log entries over hops ${hops.toSeq.sorted}, expected $want over 0..${Cfg.maxHops - 1}")
    }
    val dead = (0 until Partitions).map(InMemoryBroker.topic(dlq.name).endOffset).sum
    if (dead != 0) keyless.foreach(m => if (m.wrong.isEmpty) m.wrong = Some(s"$dead dead-lettered"))

    if (trace.enabled) {
      trace.settle()
      val L = trace.layers
      L("broker.append_ms_p50") = appendMs.asScala.toSeq
      L("broker.lag_max_msgs") = lags.maxOption.getOrElse(0L).toDouble
      L("broker.lag_end_msgs") = phaseA._2.toDouble
      L("broker.log_bytes") = Main.treeBytes(Paths.get(root)).toDouble -
        Seq("ckpt-republish", "ckpt-ordered").map(d => Main.treeBytes(Paths.get(s"$root/$d"))).sum
      L("broker.gen_late_ms_max") = late.maxOption.getOrElse(0.0)
      Seq("republish", "ordered").foreach { name =>
        val q = queries(name)
        val ps = Option(trace.progress.get(q.id.toString)).flatten
          .map(_.asScala.toSeq).getOrElse(Seq.empty).filter(_.numInputRows > 0)
        def phase(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
        L(s"$name.trigger_ms_p50") = phase("triggerExecution")
        Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets").foreach(k => L(s"$name.${k}_ms") = phase(k))
        L(s"$name.jobs_per_trigger") =
          if (ps.isEmpty) 0.0 else trace.workOf(trace.queryKey(q.id)).jobs.get.toDouble / ps.size
        L(s"$name.rows_per_trigger") =
          if (ps.isEmpty) 0.0 else ps.map(_.numInputRows).sum.toDouble / ps.size
        if (name == "ordered") {
          val st = ps.flatMap(_.stateOperators)
          L("ordered.state_rows_max") = st.map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble
          L("ordered.state_bytes_max") = st.map(_.memoryUsedBytes).maxOption.getOrElse(0L).toDouble
        }
      }
      val redelivered = entries.count(_.getInt(3) > 0)
      L("republish.redelivered") = redelivered.toDouble
      L("republish.dead_lettered") = dead.toDouble
      L("republish.useful_ratio") =
        if (entries.isEmpty) 0.0 else (entries.size - 2.0 * redelivered) / entries.size
      L("workload.start_ms") = startMs
    }
    Seq(in, dlq, kin, kout).foreach(t => InMemoryBroker.deleteTopic(t.name))

    val ops = (phaseA._1 ++ backlog).map { m =>
      Main.Op(m.name, m.sched, m.done,
        wrong = m.wrong, timed = m.timed)
    }
    Main.Result(ops, backlog.size.toDouble, drainS, setupS,
      Map("rate_msgs_per_s" -> Rate, "backlog_msgs" -> BacklogMsgs,
        "phase_a_s" -> a.seconds * PhaseAShare))
  }
}
