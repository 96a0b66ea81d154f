package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import graft.core.{GateMetrics, GraftSession}

/** `GraftSession.shared` builds each fixture once per key: callers of
  * one key wait for its single build, callers of other keys never wait
  * on it, a build may use another key's fixture, a failed build leaves
  * nothing behind, and a fixture hit launches no Spark job. */
class SharedFixtureSpec extends SparkSpecBase {

  private def key(): String = GraftSession.uniqueName("shared_spec")

  private def onThreads[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool)) finally pool.shutdownNow()
  }

  test("concurrent callers of one key share a single build") {
    val k = key()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val dirs = onThreads(8) { implicit ec =>
      val calls = (1 to 8).map(_ => Future {
        start.await()
        GraftSession.shared(k) { d => builds.incrementAndGet(); Thread.sleep(50); d }
      })
      start.countDown()
      Await.result(Future.sequence(calls), 60.seconds)
    }
    assert(builds.get == 1)
    assert(dirs.distinct.size == 1 && new File(dirs.head).isDirectory)
  }

  test("a build that throws leaves no dir behind and is retried") {
    val k = key()
    var failed = ""
    intercept[IllegalStateException] {
      GraftSession.shared[String](k) { d =>
        failed = d
        Files.write(Paths.get(d, "part-0"), Array[Byte](1))
        throw new IllegalStateException("build failed")
      }
    }
    assert(failed.nonEmpty && !new File(failed).exists)
    val built = GraftSession.shared(k)(d => d)
    assert(built != failed && new File(built).isDirectory)
    assert(GraftSession.shared[String](k)(_ => fail("a memoized fixture was rebuilt")) == built)
  }

  test("other keys return while one key's build is held") {
    val (slow, hit, fresh) = (key(), key(), key())
    GraftSession.shared(hit)(_ => "hit")
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    onThreads(2) { implicit ec =>
      val held = Future(GraftSession.shared(slow) { _ =>
        entered.countDown(); release.await(); "slow"
      })
      try {
        assert(entered.await(30, TimeUnit.SECONDS))
        val other = Future(
          (GraftSession.shared(hit)(_ => "rebuilt"), GraftSession.shared(fresh)(_ => "fresh")))
        assert(Await.result(other, 30.seconds) == (("hit", "fresh")))
        assert(!held.isCompleted)
      } finally release.countDown()
      assert(Await.result(held, 30.seconds) == "slow")
    }
  }

  test("a build may use another key's fixture") {
    val (outer, inner) = (key(), key())
    val got = onThreads(1) { implicit ec =>
      Await.result(Future(GraftSession.shared(outer) { _ =>
        GraftSession.shared(inner)(_ => 1) + 1
      }), 30.seconds)
    }
    assert(got == 2)
    assert(GraftSession.shared[Int](inner)(_ => 0) == 1)
  }

  test("the BPE gates run no Spark job on a fixture hit") {
    GraftSession.tune(spark)
    SparkEntry.queries("text_bpe_train")(spark, sfDir)
    Seq("text_bpe_train", "text_bpe_apply").foreach { gate =>
      assert(GateMetrics.measure(spark)(SparkEntry.queries(gate)(spark, sfDir)).isEmpty, gate)
    }
  }
}
