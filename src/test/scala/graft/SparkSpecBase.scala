package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; testdata at sf0.001 for speed. */
abstract class SparkSpecBase extends AnyFunSuite {
  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = graft.core.GraftSession.build(
    appName = getClass.getSimpleName, master = "local[4]")

  /** Spark jobs started while `body` runs. Listener delivery is async
    * but ordered, so a marked barrier job after `body` bounds the count
    * exactly: every job `body` started is seen before the barrier. */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.put(
        if (Option(e.properties).exists(_.getProperty("spec.barrier") != null)) "barrier"
        else "job")
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("spec.barrier", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("spec.barrier", null)
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(j => { assert(j != null, "barrier job never reached the listener"); j })
        .takeWhile(_ == "job").size
    } finally sc.removeSparkListener(listener)
  }
}
