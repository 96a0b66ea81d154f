package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.core.{GateMetrics, GraftSession, Tables}
import graft.sources.CsvSource
import graft.streaming.IngestionPipeline
import graft.streaming.IngestionPipeline.{Config, RouteSpec}

/** Pins the session behaviour [[GraftSession.tune]] sets up: every
  * session the engine derives from a tuned one runs its tasks on the
  * executor's one default classloader, so generated code compiled for
  * one session is reused by the next instead of being compiled again
  * under a per-session classloader. */
class GraftSessionSpec extends SparkSpecBase {

  /** The identity of the context classloader of the task that runs it. */
  private val loaderId = udf(() =>
    System.identityHashCode(Thread.currentThread().getContextClassLoader))
    .asNondeterministic()

  private def loaderOf(df: DataFrame): Int =
    df.select(loaderId().as("l")).head().getInt(0)

  test("parent, tuned newSession, stateScoped, confScoped and stream-batch tasks share one classloader") {
    GraftSession.tune(spark)
    val parent = loaderOf(spark.range(1).toDF())
    // a fresh session tuned before its first query, as Verify's per-gate
    // sessions are by the SparkEntry.queries wrapper
    val fresh = loaderOf(GraftSession.tune(spark.newSession()).range(1).toDF())
    val stateScoped = GraftSession.stateScoped(spark, 2)(s => loaderOf(s.range(1).toDF()))
    val confScoped = loaderOf(GraftSession.confScoped(spark,
      "spark.sql.shuffle.partitions" -> "3")(s => s.range(1).toDF()))

    val base = GraftSession.scratch("spec-loader")
    spark.range(3).write.parquet(s"$base/in")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.readStream.schema(StructType(Seq(StructField("id", LongType))))
      .parquet(s"$base/in")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ck")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select(loaderId().as("l")).collect().foreach(r => seen.add(r.getInt(0)))
      }
      .start().awaitTermination()
    val streamed = seen.asScala.toSet

    assert(streamed.nonEmpty, "the stream ran no batch")
    assert(Set(fresh, stateScoped, confScoped) ++ streamed == Set(parent),
      s"parent $parent, fresh $fresh, stateScoped $stateScoped, " +
        s"confScoped $confScoped, stream $streamed")
  }

  test("a second identical runAvailable into fresh dirs compiles no class") {
    GraftSession.tune(spark)
    val base = GraftSession.scratch("spec-recompile")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    CsvSource.writeTab(ev.where(col("user_id") < 50), s"$base/raw/route_a")
    CsvSource.writeTab(ev.where(col("user_id") >= 50), s"$base/raw/other")
    val conf = Config(
      schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType))),
      routes = Seq(RouteSpec("route_a", "/raw/route_a/[^/]+\\.csv$")))
    def run(i: Int): Long = {
      val c0 = GateMetrics.compiles
      IngestionPipeline.runAvailable(spark, conf, s"$base/raw/*", s"$base/stage$i",
        s"$base/control$i", s"$base/index$i", s"$base/ck$i")
      GateMetrics.compiles - c0
    }
    // the counter counts: code that no query has run before compiles
    val c0 = GateMetrics.compiles
    spark.range(1).selectExpr(s"id + ${System.nanoTime()}L AS x").collect()
    assert(GateMetrics.compiles > c0)
    run(1)
    assert(run(2) == 0L)
    // both runs staged the same rows
    assert(spark.read.parquet(s"$base/stage2").count() ==
      spark.read.parquet(s"$base/stage1").count())
  }
}
