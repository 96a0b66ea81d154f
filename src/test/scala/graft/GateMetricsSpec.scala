package graft

import java.util.concurrent.CountDownLatch
import graft.core.GateMetrics

/** `GateMetrics.measure` counts exactly the jobs a body starts, on any
  * thread: never its own barrier, and nothing left over from a body
  * that threw. */
class GateMetricsSpec extends SparkSpecBase {
  private def sc = spark.sparkContext
  private def tiny(): Long = sc.parallelize(1 to 10, 2).count()

  /** Listeners on the context's bus (read reflectively: the bus is
    * package-private to Spark). */
  private def listeners: Int = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[_]].size
  }

  test("k actions measure exactly k ended jobs") {
    tiny() // warm-up outside the window
    Seq(1, 3, 5).foreach { k =>
      val jobs = GateMetrics.measure(spark)((1 to k).foreach(_ => tiny()))
      assert(jobs.size == k)
      assert(jobs.map(_.id) == jobs.map(_.id).sorted)
      jobs.foreach(j => assert(j.endMs >= j.startMs, j))
      assert(jobs.forall(_.site.startsWith("count at GateMetricsSpec.scala")), jobs)
    }
  }

  test("a body with no action measures no job") {
    val df = spark.range(100).selectExpr("id * 2 AS x")
    assert(GateMetrics.measure(spark)(df.queryExecution.analyzed).isEmpty)
  }

  test("the barrier is never counted, not even a nested call's") {
    var inner = Seq.empty[GateMetrics.Job]
    val outer = GateMetrics.measure(spark) { inner = GateMetrics.measure(spark)(tiny()) }
    assert(inner.size == 1)
    assert(outer.map(_.id) == inner.map(_.id))
  }

  test("a job run from a thread the body starts and joins is counted") {
    val jobs = GateMetrics.measure(spark) {
      val t = new Thread(() => { tiny(); () })
      t.start(); t.join()
    }
    assert(jobs.size == 1)
    assert(jobs.head.endMs >= jobs.head.startMs)
  }

  test("a job still running at the closing barrier is kept with endMs = -1") {
    var t: Thread = null
    val jobs = try GateMetrics.measure(spark) {
      t = new Thread(() => {
        sc.parallelize(Seq(1), 1).map { x =>
          GateMetricsSpec.started.countDown(); GateMetricsSpec.release.await(); x
        }.count(); ()
      })
      t.start()
      GateMetricsSpec.started.await()
    } finally { GateMetricsSpec.release.countDown(); if (t != null) t.join() }
    assert(jobs.size == 1)
    assert(jobs.head.endMs == -1L)
  }

  test("an AQE-shuffled aggregate's stage jobs share the execution id of its result job") {
    val df = spark.range(0, 10000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()
    // the write ProfileGate times: its result job runs on this thread
    val jobs = GateMetrics.measure(spark)(df.write.format("noop").mode("overwrite").save())
    val (result, stages) = jobs.partition(_.site.startsWith("save at GateMetricsSpec.scala"))
    assert(result.size == 1 && stages.nonEmpty, jobs)
    assert(result.head.executionId.isDefined, jobs)
    assert(jobs.forall(_.executionId == result.head.executionId), jobs)
    // the stage jobs run from AQE's pool, so their own site names no
    // operator; ProfileGate files them under the result job's site
    assert(stages.forall(_.site.startsWith("$anonfun$withThreadLocalCaptured")), jobs)
    assert(graft.tools.ProfileGate.operatorSites(jobs) == jobs.map(_ => result.head.site))
    // a collect runs its result stage from the pool as well: one
    // execution id, no operator site to file under
    val collected = GateMetrics.measure(spark)(df.collect())
    assert(collected.size >= 2 && collected.map(_.executionId).distinct.size == 1, collected)
    assert(collected.head.executionId.isDefined && collected.head.executionId != result.head.executionId)
    assert(graft.tools.ProfileGate.operatorSites(collected) == collected.map(_.site))
    // an RDD action runs in no SQL execution
    assert(GateMetrics.measure(spark)(tiny()).map(_.executionId) == Seq(None))
  }

  test("a body that throws propagates, detaches the listener, and the next call is exact") {
    val before = listeners
    val e = intercept[IllegalStateException] {
      GateMetrics.measure(spark) { tiny(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(listeners == before)
    assert(GateMetrics.measure(spark) { tiny(); tiny() }.size == 2)
  }
}

object GateMetricsSpec {
  // tasks run in this JVM (local mode), so a task can park on these
  val started = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}
