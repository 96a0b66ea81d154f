package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.types.StructType

/** File sinks + layout policies (SURVEY.md §2.1 W1-W4, §2.8 R1-R2).
  */
object Sinks {

  /** W1 (`spark_submit_tb_call_req_parquet.py:121-123`): full-overwrite
    * parquet. */
  def parquetOverwrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Schema-evolution read: union the schemas of every parquet file
    * under `path` (mergeSchema is off by default because footer-merging
    * every file costs a listing-sized job — opt in per read, exactly
    * like Delta's schema evolution); columns absent in older files
    * come back null. Pair with `na` fills / `coalesce` defaults at the
    * call site. */
  def readParquetMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** W2 (`spark_submit_tb_table1_parquet.py:123` + conf `:79-80`):
    * dynamic-partition write — only the partitions present in `df` are
    * replaced (partitionOverwriteMode=dynamic, set in GraftSession).
    * At 100 TB this is the difference between rewriting one day and
    * rewriting the table. */
  def dynamicPartitionOverwrite(df: DataFrame, partitionCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** W3 (`run_tb_iba_laminacao_parquet.py:83`): partitioned external
    * table registered in the catalog with an explicit path. */
  def saveAsExternalTable(df: DataFrame, table: String, partitionCol: String,
                          path: String): Unit =
    df.write.mode("append").partitionBy(partitionCol)
      .format("parquet").option("path", path).saveAsTable(table)

  /** W4 (`hive_metastore_migration.py:1435-1437`): JSON overwrite. */
  def jsonOverwrite(df: DataFrame, path: String): Unit =
    df.write.format("json").mode("overwrite").save(path)

  /** Sharded JSONL corpus export — the hand-off format downstream
    * tokenizer/training jobs consume. Shard assignment is a
    * REPLAYABLE md5-hex bucket of the id (Sampling.hexBucket mod
    * nShards — any engine with md5 recomputes it), NOT a partitioner-
    * dependent hash, so shard membership is a property of the DATA
    * and survives re-export on any cluster size. One directory per
    * shard (partitionBy), writers parallel per shard. */
  def writeJsonlShards(df: DataFrame, idCol: String, nShards: Int,
                       path: String): Unit =
    df.withColumn("shard",
        pmod(graft.curate.Sampling.hexBucket(col(idCol)), lit(nShards)))
      .write.mode("overwrite").partitionBy("shard").format("json").save(path)

  /** S7 companion: JSON read with an imposed nested schema. */
  def readJson(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** R1 (`spark_submit_tb_table1_parquet.py:116-117`): one output file
    * per partition value. The reference's repartition(1, col) collapses
    * to a single task; partition-hash repartitioning keeps parallelism
    * (one task per partition value) and still yields one file each. */
  def writeOneFilePerPartition(df: DataFrame, partitionCol: String, path: String,
                               parallelism: Int): Unit =
    df.repartition(parallelism, col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** The schema a read of a `partitionBy(partitionCol)` write of a
    * frame with `schema` infers: the data columns, then the partition
    * column. A read-back imposing it skips the inference job. */
  def partitionedReadSchema(schema: StructType, partitionCol: String): StructType =
    StructType(schema.filterNot(_.name == partitionCol) :+ schema(partitionCol))

  /** R2 (`glue/spark_repartition.py:53-55`): small-file compaction. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetPartitions: Int): Unit =
    spark.read.parquet(inPath).coalesce(targetPartitions)
      .write.mode("overwrite").parquet(outPath)
}
