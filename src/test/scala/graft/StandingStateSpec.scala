package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Pins [[StandingState]]'s lifecycle: one build per (session, key),
  * purge on context stop, nothing cached on failure, nested builds,
  * and one shared build under concurrency.
  */
class StandingStateSpec extends SparkSpec {

  // a fresh key per test, so no test sees another's entries
  private def key(name: String) =
    ("spec.standingState", name, java.util.UUID.randomUUID().toString)

  test("one build per (session, key); later calls return the same " +
      "instance") {
    val k = key("once")
    val builds = new AtomicInteger
    def get(s: org.apache.spark.sql.SparkSession) =
      StandingState(s, k) { builds.incrementAndGet(); new Object }
    val a = get(spark)
    assert(get(spark) eq a)
    assert(builds.get == 1)
    // the session is part of the key
    val other = spark.newSession()
    assert(!(get(other) eq a))
    assert(get(other) eq get(other))
    assert(builds.get == 2)
  }

  test("a build that throws caches nothing; the next call builds again") {
    val k = key("throws")
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException] {
      StandingState[Object](spark, k) {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(!StandingState.resident.exists(_._2 == k))
    val v = StandingState(spark, k) { builds.incrementAndGet(); "ok" }
    assert(v == "ok" && builds.get == 2)
    assert(StandingState(spark, k)("rebuilt") == "ok")
  }

  test("a build that calls StandingState on another key completes") {
    val (outer, inner) = (key("outer"), key("inner"))
    val v = StandingState(spark, outer) {
      StandingState(spark, inner)(21) * 2
    }
    assert(v == 42)
    assert(StandingState(spark, inner)(0) == 21)
    assert(StandingState(spark, outer)(0) == 42)
  }

  test("concurrent callers of one key share a single build") {
    val k = key("shared")
    val builds = new AtomicInteger
    val callers = 8
    val ready = new CountDownLatch(callers)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(callers)
    try {
      val results = (1 to callers).map { _ =>
        pool.submit(new Callable[Object] {
          def call(): Object = {
            ready.countDown()
            StandingState(spark, k) {
              builds.incrementAndGet()
              go.await()
              new Object
            }
          }
        })
      }
      assert(ready.await(30, TimeUnit.SECONDS))
      go.countDown()
      val got = results.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
    } finally pool.shutdownNow()
  }

  // Stops this JVM's SparkContext, so it runs last; later suites'
  // sessions are created fresh by SparkSpec's getOrCreate.
  test("a stopped session's entries are purged; a new session " +
      "rebuilds them") {
    val k = key("purge")
    val builds = new AtomicInteger
    val first = StandingState(spark, k) {
      builds.incrementAndGet(); new Object
    }
    spark.stop()
    val fresh = Scale.sessionBuilder(getClass.getSimpleName, "4")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft_warehouse_${java.util.UUID.randomUUID()}")
      .getOrCreate()
    assert(!(fresh eq spark))
    val second = StandingState(fresh, k) {
      builds.incrementAndGet(); new Object
    }
    assert(!(second eq first) && builds.get == 2)
    assert(!StandingState.resident.exists(_._1 eq spark),
      "stopped session's entries survived an access")
  }
}
