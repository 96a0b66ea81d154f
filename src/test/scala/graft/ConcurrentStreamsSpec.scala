package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.core.{GraftSession, Tables}

/** Pins the contract of [[GraftSession.stateScoped]]: state-partition
  * width is a PER-QUERY property, so two streams starting concurrently
  * on one parent session each get their own width and the parent's
  * batch parallelism is never touched. The r4 implementation mutated
  * the session-global `spark.sql.shuffle.partitions` around the stream
  * start and restored it — with two concurrent starts, whichever
  * restore ran last could leave the other stream's width (or the
  * stream width) as the session's batch default. */
class ConcurrentStreamsSpec extends SparkSpecBase {

  /** Windowed streaming agg over the events file at an explicit state
    * width; returns the observed state-operator partition count. */
  private def runAt(spark: SparkSession, n: Int, name: String,
                    ready: CountDownLatch): Int =
    GraftSession.stateScoped(spark, n) { s =>
      val agg = Tables.eventsStream(s, sfDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("cnt"))
      // both queries must be constructed before either one's width
      // could be clobbered by the other's start — the race the scoped
      // session exists to prevent
      ready.countDown()
      ready.await(60, TimeUnit.SECONDS)
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val widths = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numShufflePartitions.toInt).distinct
      assert(widths.length == 1, s"mixed state widths: ${widths.toSeq}")
      val total = s.table(name).agg(sum("cnt")).head().getLong(0)
      assert(total == Tables.events(spark, sfDir).count(),
        "stream must drain every event")
      widths.head
    }

  test("two concurrent streams run at different state widths; parent conf untouched") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val ready = new CountDownLatch(2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val a = Future(runAt(spark, 3, "graft_conc_a", ready))
    val b = Future(runAt(spark, 5, "graft_conc_b", ready))
    assert(Await.result(a, 120.seconds) == 3)
    assert(Await.result(b, 120.seconds) == 5)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "parent session's batch parallelism must never change")
  }
}
