package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{GraftSession, Tables}
import graft.sources.CsvSource
import graft.streaming.IngestionPipeline
import graft.streaming.IngestionPipeline.{Config, RouteSpec, Status}

class StreamingSpec extends SparkSpecBase {

  private def setup(): (String, Config) = {
    GraftSession.tune(spark)
    val base = GraftSession.scratch("spec-stream")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    CsvSource.writeTab(ev.where(col("user_id") < 50), s"$base/raw/route_a")
    CsvSource.writeTab(ev.where(col("user_id") >= 50), s"$base/raw/other")
    val conf = Config(
      schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType))),
      routes = Seq(RouteSpec("route_a", "/raw/route_a/[^/]+\\.csv$")))
    (base, conf)
  }

  test("ingestion stages only routed files, writes control + index rows") {
    val (base, conf) = setup()
    IngestionPipeline.runAvailable(spark, conf, s"$base/raw/*",
      s"$base/stage", s"$base/control", s"$base/index", s"$base/ck")
    val staged = spark.read.parquet(s"$base/stage")
    val expected = Tables.events(spark, sfDir).where(col("user_id") < 50).count()
    assert(staged.count() == expected)
    assert(staged.select("route").distinct().collect().map(_.getString(0)).toSeq == Seq("route_a"))
    val ctl = spark.read.parquet(s"$base/control")
    assert(ctl.agg(sum("n_rows")).head().getLong(0) == expected)
    assert(ctl.select("status").distinct().head().getString(0) == Status.Loaded)
    val idx = spark.read.json(s"$base/index")
    assert(idx.count() == ctl.count())
    assert(idx.columns.contains("doc_id"))
  }

  test("re-running with the same checkpoint is a no-op (exactly-once per file)") {
    val (base, conf) = setup()
    IngestionPipeline.runAvailable(spark, conf, s"$base/raw/*",
      s"$base/stage", s"$base/control", s"$base/index", s"$base/ck")
    val before = spark.read.parquet(s"$base/stage").count()
    IngestionPipeline.runAvailable(spark, conf, s"$base/raw/*",
      s"$base/stage", s"$base/control", s"$base/index", s"$base/ck")
    val after = spark.read.parquet(s"$base/stage").count()
    assert(before == after)
  }

  test("runAvailable returns the schema a read-back of the stage infers") {
    val (base, conf) = setup()
    val staged = IngestionPipeline.runAvailable(spark, conf, s"$base/raw/*",
      s"$base/stage", s"$base/control", s"$base/index", s"$base/ck")
    assert(spark.read.schema(staged).parquet(s"$base/stage").schema ==
      spark.read.parquet(s"$base/stage").schema)
  }

  test("watermark-scoped dedup drops duplicates arriving in LATER micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long)] // (event_id, ts_us)
    val base = 1700000000000000L
    val deduped = graft.streaming.StreamDedup.dedupWithinWatermark(
      ms.toDF().toDF("event_id", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))),
      Seq("event_id"), "ts", "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("spec_dedup").start()
    try {
      ms.addData((1L, base), (2L, base + 1), (3L, base + 2), (1L, base))
      q.processAllAvailable()
      // batch 2: redeliveries of 2 and 3 (within watermark) + fresh 4
      ms.addData((2L, base + 1), (3L, base + 2), (4L, base + 3))
      q.processAllAvailable()
      val got = spark.table("spec_dedup")
        .select("event_id").as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 2L, 3L, 4L), s"got $got")
    } finally q.stop()
  }

  test("status transition table matches the reference lifecycle") {
    assert(Status.isLegal(Status.InitialLoad, Status.Stage))
    assert(Status.isLegal(Status.Stage, Status.Processing))
    assert(Status.isLegal(Status.Processing, Status.Loaded))
    assert(Status.isLegal(Status.Processing, Status.Failed))
    assert(Status.isLegal(Status.InitialLoad, Status.Canceled))
    assert(!Status.isLegal(Status.Loaded, Status.Processing))
    assert(!Status.isLegal(Status.InitialLoad, Status.Loaded))
  }

  test("routeExpr dispatches first-match-wins with skip fallback") {
    import spark.implicits._
    val df = Seq("/raw/route_a/x.csv", "/raw/route_b/y.csv", "/nope/z.csv").toDF("f")
    val routes = Seq(RouteSpec("a", ".*route_a.*"), RouteSpec("b", ".*route_.*"))
    val got = df.select(IngestionPipeline.routeExpr($"f", routes).as("r"))
      .as[String].collect().toSeq
    assert(got == Seq("a", "b", "skip"))
  }
}
