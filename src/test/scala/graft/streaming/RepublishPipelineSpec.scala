package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.functions.PolyHash
import graft.streaming.broker.BrokerTopic
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline behaviors ABOVE the [[Topic]] contract (the
  * process→republish→ack loop itself now lives in [[TopicContract]],
  * run against every Topic implementation): the redelivery backoff —
  * the broker delayed-delivery semantics RepublishPipeline stamps into
  * `not_before` — the one-job trigger, the status-domain guard, and a
  * batch with nothing to route.
  */
class RepublishPipelineSpec extends AnyFunSuite with SparkTestSession {

  private def brokerTopic(name: String): Topic =
    BrokerTopic.create(spark, s"$name-${System.nanoTime()}",
      Payloads.payloadSchema)

  /** Waits until `query` has committed a batch with input rows. */
  private def awaitFirstBatch(query: StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (!query.recentProgress.exists(_.numInputRows > 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(query.recentProgress.exists(_.numInputRows > 0),
      s"no batch completed within 60 s: ${query.exception}")
  }

  test("a broker trigger routing successes and failures runs one job, reading no cache") {
    import spark.implicits._
    val sc = spark.sparkContext
    val topic = brokerTopic("one-job")
    val dlq = brokerTopic("one-job-dlq")
    val cfg = RepublishPipeline.Config(
      failPercent = 40, maxHops = 2, maxDeliveries = 3, admitPerTrigger = 64)
    val seeds = (0 until 16).map(i => s"s$i")
    val failing = seeds.filter(n => PolyHash.hash(s"$n#0") % 100 < cfg.failPercent)
    assert(failing.nonEmpty && failing.size < seeds.size,
      "the batch must hold both successes and first-delivery failures")

    val settle = s"republish-settle-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          jobs.add((Option(p.getProperty("sql.streaming.queryId"))
            .getOrElse(Option(p.getProperty("spark.jobGroup.id")).orNull),
            p.getProperty("streaming.sql.batchId")))
        }
    }
    val cached = new ConcurrentLinkedQueue[String]
    val plans = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.withCachedData.exists(_.isInstanceOf[InMemoryRelation]))
          cached.add(f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    topic.publishSeed(seeds.map(n => (n, 0)).toDF("name", "numPublishes"))
    sc.addSparkListener(listener)
    spark.listenerManager.register(plans)
    val query = RepublishPipeline.start(topic, dlq,
      java.nio.file.Files.createTempDirectory("graft-onejob-").toString,
      s"republish-onejob-${System.nanoTime()}", cfg)
    try {
      awaitFirstBatch(query)
      // the listener bus delivers in order: once the sentinel job's start
      // has arrived, so has every start of the trigger's jobs
      sc.setJobGroup(settle, settle)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.asScala.exists(_._1 == settle) &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(jobs.asScala.exists(_._1 == settle), "the listener bus did not settle")
      val first = jobs.asScala.count(_ == ((query.id.toString, "0")))
      assert(first == 1, s"batch 0 ran $first jobs")
      assert(cached.isEmpty, s"executions read a cached relation: $cached")
      query.processAllAvailable()
      val rows = topic.readAll().select("name", "numPublishes", "deliveries")
        .as[(String, Int, Int)].collect().toSet
      for (n <- seeds) assert(rows.contains((n, 1, 0)), s"$n missing its hop")
      for (n <- failing) assert(rows.contains((n, 0, 1)), s"$n not redelivered")
    } finally {
      query.stop()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(plans)
    }
  }

  test("a status outside {success, failure} fails the batch and routes nothing") {
    import spark.implicits._
    val cfg = RepublishPipeline.Config(maxHops = 3)
    val farFuture = System.currentTimeMillis() + 3600000L
    // a NULL status on a row not yet due, and a third value on a due row:
    // the guard runs on every row, whatever the row's route
    for ((status, notBefore) <- Seq((null, farFuture), ("maybe", 0L))) {
      val topic = brokerTopic("guarded")
      val dlq = brokerTopic("guarded-dlq")
      val batch = Seq(("ok", 0, 0, 0L, "success"), ("bad", 0, 0, notBefore, status))
        .toDF("name", "numPublishes", "deliveries", "not_before", "status")
        .coalesce(1)
      val e = intercept[Exception](
        RepublishPipeline.routeBatch(batch, topic, dlq, cfg))
      assert(e.getMessage.contains("outside {success, failure}"), e.getMessage)
      assert(topic.readAll().count() == 0 && dlq.readAll().count() == 0,
        "the failing task appended its rows")
    }
  }

  for (kind <- Seq("file", "broker"))
    test(s"[$kind] a batch with every row held or dead completes") {
      import spark.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft-held-").toString
      def make(name: String): Topic =
        if (kind == "file") FileTopic.create(spark, name, base, Payloads.payloadSchema)
        else brokerTopic(name)
      val topic = make("herons")
      val dlq = make("herons-dlq")
      // every first delivery fails and dead-letters; the held row is due
      // in an hour (the broker does not admit it, the file topic does)
      val cfg = RepublishPipeline.Config(failPercent = 100, maxHops = 2,
        maxDeliveries = 1, admitPerTrigger = 64)
      val held = System.currentTimeMillis() + 3600000L
      topic.publish(Seq(("grey", 0, 0, 0L), ("night", 0, 0, held))
        .toDF("name", "numPublishes", "deliveries", "not_before"))
      val query = RepublishPipeline.start(
        topic, dlq, s"$base/ckpt", s"republish-held-$kind-${System.nanoTime()}", cfg)
      try {
        awaitFirstBatch(query)
        assert(dlq.readAll().select("name", "numPublishes", "deliveries")
          .as[(String, Int, Int)].collect().toSeq == Seq(("grey", 0, 1)))
        val rows = topic.readAll().select("name", "deliveries", "not_before")
          .as[(String, Int, Long)].collect().toSeq
        assert(rows.filter(_._1 == "night").forall(_ == (("night", 0, held))),
          s"the held row changed: $rows")
        assert(!rows.exists(r => r._1 == "grey" && r._2 > 0),
          s"the dead row was redelivered: $rows")
      } finally query.stop()
    }

  test("nacked rows honor the redelivery backoff (broker delayed delivery)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-backoff-").toString
    val topic = FileTopic.create(spark, "owls", base, Payloads.payloadSchema)
    val dlq = FileTopic.create(spark, "owls-dlq", base, Payloads.payloadSchema)
    val backoffMs = 600L
    val cfg = RepublishPipeline.Config(
      failPercent = 100, maxHops = 1, maxDeliveries = 2, admitPerTrigger = 8,
      redeliveryBackoffMs = backoffMs)

    // failPercent=100 fails every FIRST delivery; the retry succeeds. With
    // maxHops=1 the success is not republished, so the topic ends with the
    // seed + exactly one redelivery row — whose not_before must be at
    // least backoff after the seed's processing.
    topic.publishSeed(Seq(("tawny", 0)).toDF("name", "numPublishes"))
    val t0 = System.currentTimeMillis()
    val query = RepublishPipeline.start(
      topic, dlq, s"$base/ckpt", "republish-owls", cfg)
    try {
      var prev = -1L; var stable = 0
      while (stable < 2) {
        query.processAllAvailable()
        val rows = topic.readAll()
          .select("deliveries", "not_before").as[(Int, Long)].collect()
        // invariant at every observation point: nothing is PROCESSED before
        // its not_before — a second delivery (deliveries=1) succeeding
        // before its due time would have been visible as hop-1 republish or
        // dlq traffic; here we assert the redelivery row itself carries the
        // backoff stamp
        rows.filter(_._1 == 1).foreach { case (_, nb) =>
          assert(nb >= t0 + backoffMs, s"redelivery stamped not_before=$nb, " +
            s"expected >= ${t0 + backoffMs}")
        }
        val cnt = rows.length.toLong
        if (cnt == prev) stable += 1 else { stable = 0; prev = cnt }
      }
      // the retry eventually ran (deliveries=1 row exists) and only after
      // its due time: the pipeline records success by NOT dead-lettering
      val finalRows = topic.readAll()
        .select("deliveries", "not_before").as[(Int, Long)].collect()
      assert(finalRows.exists(_._1 == 1), "redelivery must eventually happen")
      assert(dlq.readAll().count() == 0,
        "retry succeeded after backoff; nothing dead-letters")
      assert(System.currentTimeMillis() >= t0 + backoffMs,
        "pipeline cannot have settled before the backoff elapsed")
    } finally query.stop()
  }
}
