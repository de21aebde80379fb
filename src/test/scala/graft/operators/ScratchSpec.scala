package graft.operators

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.{SparkTestSession, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The build-once contract of [[Scratch.Memo]], which every layout cache
  * relies on: one build per key under concurrent first use, per-key (never
  * global) serialization, nothing memoized from a failed build, and no
  * build on a hit. At most 4 threads; every wait has a timeout, so a
  * broken memo fails the test instead of hanging it.
  *
  * And the read-back contract: a flush reads back with the written
  * frame's schema, which is exactly what footer inference would return,
  * so a flush read-back, a [[Scratch.memoTable]] hit and a repeated
  * `Tables.load` start no Spark job.
  */
class ScratchSpec extends AnyFunSuite with SparkTestSession {

  private def withPool[T](body: java.util.concurrent.ExecutorService => T): T = {
    val pool = Executors.newFixedThreadPool(4)
    try body(pool) finally pool.shutdownNow(): Unit
  }

  test("4 concurrent misses on one key run one build and share its value") {
    val memo = new Scratch.Memo[String, Object]
    val builds = new AtomicInteger
    val gate = new CountDownLatch(1)
    withPool { pool =>
      val calls = (1 to 4).map(_ => pool.submit(new Callable[Object] {
        def call(): Object = {
          gate.await(10, TimeUnit.SECONDS)
          memo("k") {
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others miss
            new Object
          }
        }
      }))
      gate.countDown()
      val seen = calls.map(_.get(10, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(seen.forall(_ eq seen.head))
    }
  }

  test("a build of key B finishes while key A's build is blocked") {
    val memo = new Scratch.Memo[String, String]
    val aStarted = new CountDownLatch(1)
    val releaseA = new CountDownLatch(1)
    withPool { pool =>
      val a = pool.submit(new Callable[String] {
        def call(): String = memo("A") {
          aStarted.countDown()
          releaseA.await(10, TimeUnit.SECONDS)
          "a"
        }
      })
      try {
        assert(aStarted.await(10, TimeUnit.SECONDS))
        val b = pool.submit(new Callable[String] {
          def call(): String = memo("B")("b")
        })
        // a global lock would park B behind A until the release below
        assert(b.get(5, TimeUnit.SECONDS) == "b")
      } finally releaseA.countDown()
      assert(a.get(10, TimeUnit.SECONDS) == "a")
    }
  }

  test("a throwing build memoizes nothing; the next call builds again") {
    val memo = new Scratch.Memo[String, Int]
    val builds = new AtomicInteger
    intercept[IllegalStateException] {
      memo("k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(memo("k") { builds.incrementAndGet(); 7 } == 7)
    assert(builds.get == 2)
  }

  test("a hit runs no build") {
    val memo = new Scratch.Memo[String, Int]
    assert(memo("k")(1) == 1)
    assert(memo("k")(fail("a hit must not build")) == 1)
    memo.put("k", 2)
    assert(memo("k")(fail("a hit must not build")) == 2)
  }

  /** The Spark jobs `body` starts on this thread. Jobs are tagged by a
    * job group; a sentinel job in a second group is then run and awaited
    * on the listener bus, which delivers events in order, so every start
    * of the body's jobs has arrived once the sentinel's has.
    */
  private def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"scratchspec-${System.nanoTime()}"
    val settle = s"$group-settle"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      def inGroup(g: String)(f: => Any): Unit = {
        sc.setJobGroup(g, g)
        try f finally sc.clearJobGroup()
      }
      inGroup(group)(body)
      inGroup(settle)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!groups.contains(settle) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(settle), "the listener bus did not settle")
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  /** Non-null longs, arrays, maps, structs, decimals, timestamps and
    * strings: every nullability a user-given read schema must relax.
    */
  private def typed = spark.range(5).selectExpr(
    "id",
    "array(id, id + 1) AS arr",
    "map(id, concat('v', id)) AS m",
    "named_struct('a', id, 'b', array(named_struct('c', id))) AS st",
    "CAST(id AS DECIMAL(20, 4)) AS dec",
    "timestamp_micros(id) AS ts",
    "CAST(timestamp_micros(id) AS TIMESTAMP_NTZ) AS ts_ntz",
    "concat('s', id) AS str")

  test("a flush reads back with exactly the footer-inferred schema") {
    val df = typed
    assert(df.schema.exists(!_.nullable), "the fixture must hold non-null fields")
    val flushed = Scratch.flush(spark, s"scratchspec-typed-${System.nanoTime()}", df)
    val dir = new java.io.File(new java.net.URI(flushed.inputFiles.head)).getParent
    val inferred = spark.read.parquet(dir)
    assert(flushed.schema == inferred.schema)
    assert(flushed.orderBy("id").collect().toSeq ==
      inferred.orderBy("id").collect().toSeq)
  }

  test("a flush read-back, a memoTable hit and a second Tables.load start no job") {
    val df = typed
    val tag = s"scratchspec-jobs-${System.nanoTime()}"
    // the instrument sees inference: a bare read of a flushed path is a job
    val path = Scratch.flushPath(spark, tag, df)
    assert(jobsIn(spark.read.parquet(path).schema) == 1)
    // a flush costs its write and nothing more
    assert(jobsIn(Scratch.flush(spark, tag, df).schema) ==
      jobsIn(Scratch.flushPath(spark, tag, df)))
    val key = s"/scratchspec/${System.nanoTime()}"
    def layout = Scratch.memoTable(spark, key, "scratchspec")(t =>
      Scratch.flushPath(spark, t, df))
    assert(jobsIn(layout.schema) > 0, "the first call builds")
    assert(jobsIn(layout.schema) == 0)
    val sf = "/root/testdata/sf0.001"
    for (table <- Seq("documents", "events")) {
      Tables.load(spark, sf, table)
      assert(jobsIn(Tables.load(spark, sf, table).schema) == 0, table)
    }
  }
}
