package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.etl.Promote
import graft.sources.{CsvSource, Sinks}

class SourcesSpec extends SparkSpecBase {

  test("writeOneFilePerPartition yields exactly one data file per dir") {
    GraftSession.tune(spark)
    val dir = GraftSession.scratch("spec-r1")
    val o = Tables.orders(spark, sfDir).withColumn("yr", year(col("o_orderdate")))
    Sinks.writeOneFilePerPartition(o, "yr", dir, parallelism = 8)
    val partDirs = Files.list(Paths.get(dir)).filter(p =>
      p.getFileName.toString.startsWith("yr=")).toArray
    assert(partDirs.nonEmpty)
    partDirs.foreach { p =>
      val dataFiles = Files.list(p.asInstanceOf[java.nio.file.Path]).filter(f =>
        f.getFileName.toString.endsWith(".parquet")).count()
      assert(dataFiles == 1, s"$p has $dataFiles files")
    }
  }

  test("compact reduces file count and preserves rows") {
    GraftSession.tune(spark)
    val in = GraftSession.scratch("spec-compact-in")
    val out = GraftSession.scratch("spec-compact-out")
    Tables.lineitem(spark, sfDir).repartition(16).write.mode("overwrite").parquet(in)
    Sinks.compact(spark, in, out, targetPartitions = 2)
    val files = Files.list(Paths.get(out)).filter(_.toString.endsWith(".parquet")).count()
    assert(files <= 2)
    assert(spark.read.parquet(out).count() == Tables.lineitem(spark, sfDir).count())
  }

  test("dynamic partition overwrite replaces only written partitions") {
    GraftSession.tune(spark)
    val dir = GraftSession.scratch("spec-w2")
    val df = spark.range(10).withColumn("p", (col("id") % 2).cast("int"))
    Sinks.dynamicPartitionOverwrite(df, "p", dir)
    val patch = spark.range(100, 103).withColumn("p", lit(0))
    Sinks.dynamicPartitionOverwrite(patch, "p", dir)
    val back = spark.read.parquet(dir)
    assert(back.where(col("p") === 1).count() == 5) // untouched
    assert(back.where(col("p") === 0).count() == 3) // replaced
  }

  test("mergeSchema read unions old and new file schemas, nulling absent columns") {
    GraftSession.tune(spark)
    val dir = GraftSession.scratch("spec-evolve")
    // v1 files: (id, a); v2 files add column b
    spark.range(5).withColumn("a", col("id") * 2)
      .write.mode("overwrite").parquet(dir)
    spark.range(5, 8).withColumn("a", col("id") * 2)
      .withColumn("b", col("id").cast("string"))
      .write.mode("append").parquet(dir)
    val merged = Sinks.readParquetMergedSchema(spark, dir)
    assert(merged.columns.sorted.toSeq == Seq("a", "b", "id"))
    assert(merged.count() == 8)
    assert(merged.where(col("b").isNull).count() == 5) // old files
    assert(merged.where(col("b").isNotNull).count() == 3)
    // default read (no merge) may legally miss column b; the evolved
    // reader is the contract
  }

  test("listDataFiles returns only matching files, sorted") {
    val dir = GraftSession.scratch("spec-ls")
    Files.writeString(Paths.get(dir, "b.csv"), "x")
    Files.writeString(Paths.get(dir, "a.csv"), "y")
    Files.writeString(Paths.get(dir, "ignore.txt"), "z")
    val got = CsvSource.listDataFiles(spark, dir)
    assert(got.map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq("a.csv", "b.csv"))
  }

  test("Promote.run returns the schema a read-back of its output infers") {
    import org.apache.spark.sql.types._
    GraftSession.tune(spark)
    val raw = GraftSession.scratch("spec-promote-raw")
    CsvSource.writeTab(Tables.events(spark, sfDir).select(
      date_format(col("ts"), "dd.MM.yyyy HH:mm:ss.SSSSSS").as("date_time"),
      col("user_id"), col("event_type"), col("value")), raw)
    // a date partition (etl_promote_e2e) and an int one (etl_promote_wide)
    Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
        "dt" -> (_.cast("date")), "yr" -> (year(_))).foreach { case (dst, fn) =>
      val out = GraftSession.scratch("spec-promote-out")
      val conf = Promote.Config(
        delimiter = Promote.Tab,
        schema = StructType(Seq(
          StructField("date_time", StringType), StructField("user_id", LongType),
          StructField("event_type", StringType), StructField("value", DoubleType))),
        parses = Seq(Promote.ParseSpec("date_time", "ts_micros")),
        partitionFrom = Some(("date_time", dst, fn)),
        filesPerPartition = 2)
      val written = Promote.run(spark, conf, raw, out)
      assert(spark.read.schema(written).parquet(out).schema ==
        spark.read.parquet(out).schema, dst)
    }
  }
}
