package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import graft.operators.SessionMemo

/** `operators.SessionMemo`, the engine's one session memo: per-entry
  * locking, failure handling, nesting and build-seconds accounting.
  * Every key is unique to its test, so the shared session's entries
  * (built by other suites) are never served or overwritten here. */
class SessionMemoSpec extends GraftSpec {

  private def key(name: String): String = s"spec|$name|${java.util.UUID.randomUUID()}"

  private def inThreads[T](n: Int)(body: => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(Seq.fill(n)(Future(body))), 60.seconds)
    finally pool.shutdown()
  }

  test("N threads asking for one key build once and share the reference") {
    val k = key("once")
    val builds = new AtomicInteger(0)
    val gate = new CountDownLatch(1)
    val got = inThreads(8) {
      gate.await(10, TimeUnit.SECONDS)
      SessionMemo.memoized(spark, k, "spec_once") {
        builds.incrementAndGet()
        Thread.sleep(100)
        new Object
      }
    }
    gate.countDown()
    assert(builds.get == 1, s"built ${builds.get} times")
    assert(got.forall(_ eq got.head), "threads got different references")
  }

  test("a build that throws caches nothing; the next call builds again") {
    val k = key("throws")
    val builds = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      SessionMemo.memoized[AnyRef](spark, k, "spec_throws") {
        builds.incrementAndGet()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    val v = SessionMemo.memoized(spark, k, "spec_throws") { builds.incrementAndGet(); new Object }
    assert(builds.get == 2, "the failed build was served or not retried")
    assert(SessionMemo.memoized(spark, k, "spec_throws") { builds.incrementAndGet(); new Object } eq v)
    assert(builds.get == 2)
  }

  test("a nested build does not block a second thread reading the inner key") {
    val outer = key("outer")
    val inner = key("inner")
    val innerBuilds = new AtomicInteger(0)
    def readInner(): AnyRef =
      SessionMemo.memoized(spark, inner, "spec_inner") { innerBuilds.incrementAndGet(); new Object }
    val outerStarted = new CountDownLatch(1)
    val secondDone = new CountDownLatch(1)
    implicit val ec: ExecutionContext = ExecutionContext.global
    // the outer build holds its entry until the second thread has read
    // the inner key: a lock shared across entries would deadlock here
    val first = Future(SessionMemo.memoized(spark, outer, "spec_outer") {
      outerStarted.countDown()
      assert(secondDone.await(30, TimeUnit.SECONDS), "inner read blocked by the outer build")
      (readInner(), new Object)
    })
    val second = Future {
      outerStarted.await(30, TimeUnit.SECONDS)
      try readInner() finally secondDone.countDown()
    }
    val (innerSeenByOuter, _) = Await.result(first, 60.seconds)
    assert(Await.result(second, 60.seconds) eq innerSeenByOuter)
    assert(innerBuilds.get == 1)
  }

  test("build seconds are recorded once per build and reset by releaseCaches") {
    val kind = s"spec_secs_${java.util.UUID.randomUUID()}"
    val k = key("secs")
    for (_ <- 1 to 3) SessionMemo.memoized(spark, k, kind) { Thread.sleep(300); new Object }
    val secs = SessionMemo.buildSeconds(kind)
    assert(secs >= 0.3 && secs < 0.6, s"expected one ~0.3 s build, recorded $secs s")
    SparkEntry.releaseCaches()
    assert(!SessionMemo.buildSeconds.contains(kind), "releaseCaches kept the build seconds")
    val builds = new AtomicInteger(0)
    SessionMemo.memoized(spark, k, kind) { builds.incrementAndGet(); new Object }
    assert(builds.get == 1, "releaseCaches kept the entry")
  }
}
