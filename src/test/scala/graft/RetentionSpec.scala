package graft

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.etl.Retention

class RetentionSpec extends SparkSpecBase {

  test("expirePartitions drops only partitions below the cutoff") {
    GraftSession.tune(spark)
    val dir = GraftSession.scratch("spec-retention")
    val ev = Tables.events(spark, sfDir).withColumn("dt", col("ts").cast("date"))
    ev.write.mode("overwrite").partitionBy("dt").parquet(dir)
    val allDts = ev.select("dt").distinct().orderBy("dt")
      .collect().map(_.getDate(0).toString)
    val cutoff = allDts(allDts.length / 2)
    val dropped = Retention.expirePartitions(spark, dir, "dt", cutoff)
    assert(dropped == allDts.filter(_ < cutoff).toSeq)
    val remaining = spark.read.parquet(dir).select("dt").distinct()
      .collect().map(_.getDate(0).toString).sorted
    assert(remaining.toSeq == allDts.filter(_ >= cutoff).toSeq)
  }

  test("expirePartitions on a missing path is a safe no-op") {
    assert(Retention.expirePartitions(spark, "/tmp/graft-nope-xyz", "dt", "2024-01-01").isEmpty)
  }
}
