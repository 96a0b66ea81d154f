package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.{CsvSource, Sinks}
import graft.functions.TimeFns

/** Raw→analytics promotion job (SURVEY.md §3.1, §7.2): the reference's
  * single most-executed pipeline shape (5 of its 6 Spark programs —
  * `artifacts/spark_programs/spark_submit_tb_*_parquet.py`).
  *
  * Config-driven like the reference's job-catalog JSONs
  * (the JSON configs under `artifacts/spark_programs/`): delimiter
  * preset, imposed
  * schema, per-column date/timestamp parse specs, derived partition
  * column, output layout policy.
  *
  * Scale shape: one narrow scan→project pipeline (no shuffle except
  * the optional layout repartition), so it's bounded by input
  * bandwidth; 512 MB splits (GraftSession) size the tasks.
  */
object Promote {

  sealed trait Delimiter
  case object Sep1 extends Delimiter       // S1:  no header
  case object Semicolon extends Delimiter  // S2: ; header
  case object Tab extends Delimiter        // S3: \t header, file-listed

  /** One parsed column: raw string column → typed column via format. */
  final case class ParseSpec(column: String, kind: String) {
    def apply(c: Column): Column = kind match {
      case "date_dots" => TimeFns.parseDateDots(c)        // F1a %Y.%m.%d
      case "ts_micros" => TimeFns.parseTimestampMicros(c) // F1b %d.%m.%Y %H:%M:%S.%f
      case "ts_slash" => TimeFns.parseTimestampSlash(c)   // F1c %d/%m/%Y %H:%M:%S
      case other => sys.error(s"unknown parse kind $other")
    }
  }

  final case class Config(
      delimiter: Delimiter,
      schema: StructType,
      parses: Seq[ParseSpec],
      dropColumns: Seq[String] = Nil,
      partitionFrom: Option[(String, String, Column => Column)] = None, // (src, dst, fn)
      filesPerPartition: Int = 32)

  /** Read the raw zone (imposed schema — the reference probes the
    * catalog with LIMIT 1 for it; callers pass `spark.table(t).schema`
    * or an explicit StructType). */
  def readRaw(spark: SparkSession, conf: Config, rawPath: String): DataFrame =
    conf.delimiter match {
      case Sep1 => CsvSource.readSep1(spark, conf.schema, rawPath)
      case Semicolon => CsvSource.readSemicolon(spark, conf.schema, rawPath)
      case Tab =>
        val files = CsvSource.listDataFiles(spark, rawPath)
        CsvSource.readTabFileList(spark, conf.schema, files)
    }

  /** Apply the transform spec: typed parses, drops, derived partition. */
  def transform(df: DataFrame, conf: Config): DataFrame = {
    val parsed = conf.parses.foldLeft(df) { (d, spec) =>
      d.withColumn(spec.column, spec(col(spec.column)))
    }
    val dropped = parsed.drop(conf.dropColumns: _*)
    conf.partitionFrom match {
      case Some((src, dst, fn)) => dropped.withColumn(dst, fn(col(src)))
      case None => dropped
    }
  }

  /** Full job: raw CSV → typed, partitioned analytics parquet. Returns
    * the written schema as a read of `analyticsPath` lays it out (data
    * columns, then the partition column), so the caller reads its
    * output back with `spark.read.schema(s)` instead of an inference
    * job, as [[graft.core.Caching.reap]] does. */
  def run(spark: SparkSession, conf: Config, rawPath: String,
          analyticsPath: String): StructType = {
    val df = transform(readRaw(spark, conf, rawPath), conf)
    conf.partitionFrom match {
      case Some((_, dst, _)) =>
        Sinks.writeOneFilePerPartition(df, dst, analyticsPath, conf.filesPerPartition)
        Sinks.partitionedReadSchema(df.schema, dst)
      case None =>
        Sinks.parquetOverwrite(df, analyticsPath)
        df.schema
    }
  }
}
