package graft.operators

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The build-once contract of [[Scratch.Memo]], which every layout cache
  * relies on: one build per key under concurrent first use, per-key (never
  * global) serialization, nothing memoized from a failed build, and no
  * build on a hit. At most 4 threads; every wait has a timeout, so a
  * broken memo fails the test instead of hanging it.
  */
class ScratchSpec extends AnyFunSuite {

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
}
