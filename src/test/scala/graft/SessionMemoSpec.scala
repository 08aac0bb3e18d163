package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.util.SessionMemo

class SessionMemoSpec extends SparkSpec {

  private def withPool[T](n: Int)(f: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try f(ExecutionContext.fromExecutor(pool))
    finally { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("one key requested from 8 threads builds once") {
    val memo = new SessionMemo
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val got = withPool(8) { implicit ec =>
      val fs = (1 to 8).map(_ => Future {
        start.await()
        memo(spark, "k") { builds.incrementAndGet(); Thread.sleep(100); "v" }
      })
      start.countDown()
      Await.result(Future.sequence(fs), 30.seconds)
    }
    assert(got.forall(_ == "v"))
    assert(builds.get == 1)
  }

  test("a key builds while another key's build is blocked") {
    val memo = new SessionMemo
    val release = new CountDownLatch(1)
    val aStarted = new CountDownLatch(1)
    withPool(2) { implicit ec =>
      val a = Future(memo(spark, "a") {
        aStarted.countDown(); release.await(); "A" })
      assert(aStarted.await(10, TimeUnit.SECONDS))
      val b = Future(memo(spark, "b")("B"))
      try assert(Await.result(b, 10.seconds) == "B")
      finally release.countDown()
      assert(Await.result(a, 10.seconds) == "A")
    }
  }

  test("a build that reads another key returns") {
    val memo = new SessionMemo
    val outer = memo(spark, "outer") {
      memo(spark, "inner")("in") + "+" + memo.shared("shared")("sh")
    }
    assert(outer == "in+sh")
    assert(memo(spark, "inner")("other") == "in")
  }

  test("a build that throws caches nothing and the next call builds again") {
    val memo = new SessionMemo
    val builds = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      memo(spark, "k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(memo(spark, "k") { builds.incrementAndGet(); "ok" } == "ok")
    assert(memo(spark, "k") { builds.incrementAndGet(); "again" } == "ok")
    assert(builds.get == 2)
  }

  test("session values are per session, process values are shared") {
    val memo = new SessionMemo
    val other = spark.newSession()
    val a = memo(spark, "k")(new Object)
    val b = memo(other, "k")(new Object)
    assert(!(a eq b))
    assert(memo(spark, "k")(new Object) eq a)
    assert(memo(other, "k")(new Object) eq b)
    val shared = memo.shared("k")(new Object)
    assert(!(shared eq a) && !(shared eq b))
    assert(memo.shared("k")(new Object) eq shared)
  }
}
