package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY
import scala.collection.mutable

/** The engine's one Spark job collector: [[measure]] lists every job
  * that starts while a body runs, for the profiler and the specs;
  * [[compiles]] counts generated-code compiles.
  *
  * The window closes with a marked barrier job. The listener bus
  * delivers events in the order they were posted, so once the
  * barrier's start event arrives, every event posted before it was
  * submitted has arrived too: the count is exact with no sleep. A job
  * ends (and its end event is posted) before the action that ran it
  * returns, so every job the body waited on also has its end. The
  * barrier is never counted.
  *
  * Every job in the window counts, whichever thread started it, so
  * two bodies measured at once on one context count each other's jobs.
  */
object GateMetrics {

  /** One Spark job. `site` is the first line of its call site; `endMs`
    * is -1 when the job had not ended by the closing barrier.
    * `executionId` is the job's `spark.sql.execution.id` local property:
    * the SQL query it ran for, shared by an adaptive query's stage jobs
    * and its result job; None for a job outside any SQL execution. */
  final case class Job(id: Int, site: String, startMs: Long, endMs: Long,
                       executionId: Option[Long])

  private val BarrierKey = "graft.metrics.barrier"

  /** Generated classes compiled in this JVM so far, by any thread. The
    * codegen cache updates this histogram inside its loader, so it
    * counts Janino compiles (cache misses), not cache lookups; the
    * difference across a body is what that body compiled. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The jobs started while `body` runs, in start order. If `body`
    * throws, the exception propagates and nothing is returned. */
  def measure(spark: SparkSession)(body: => Any): Seq[Job] = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val barrier = new CountDownLatch(1)
    // the bus calls one listener from one thread; the latch publishes
    // its writes to the caller
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (barrier.getCount > 0) {
        def prop(key: String) = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
        prop(BarrierKey) match {
          case None => jobs(e.jobId) = Job(e.jobId,
            e.stageInfos.lastOption.fold("?")(_.name.takeWhile(_ != '\n')), e.time, -1L,
            prop(EXECUTION_ID_KEY).map(_.toLong))
          case Some(`token`) => barrier.countDown()
          case _ => // another call's barrier
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (barrier.getCount > 0)
          jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(BarrierKey, token)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(BarrierKey, null)
      if (!barrier.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("barrier job never reached the job listener")
      jobs.values.toSeq
    } finally sc.removeSparkListener(listener)
  }
}
