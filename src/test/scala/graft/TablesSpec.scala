package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{BinaryType, StringType}
import graft.core.{GateMetrics, GraftSession, Tables}

/** `Tables` memoizes each table's inferred schema per file snapshot and
  * session conf, so a repeated read launches no Spark job, while a
  * rewrite, an emptied dir or a conf that shapes inference behaves
  * exactly as a bare `spark.read.parquet` would. */
class TablesSpec extends SparkSpecBase {
  import spark.implicits._

  private def inferred(path: String): DataFrame = spark.read.parquet(path)

  test("a repeated read of a table runs no Spark job") {
    GraftSession.tune(spark)
    assert(GateMetrics.measure(spark)(inferred(s"$sfDir/nation.parquet")).nonEmpty,
      "a bare read should pay an inference job, or the count below is vacuous")
    Tables.nation(spark, sfDir)
    assert(GateMetrics.measure(spark)(Tables.nation(spark, sfDir)).isEmpty)
  }

  test("the memoized schema equals the inferred one for every table") {
    GraftSession.tune(spark)
    Tables.All.foreach { name =>
      Tables(spark, sfDir, name)
      var memo: DataFrame = null
      assert(GateMetrics.measure(spark) { memo = Tables(spark, sfDir, name) }.isEmpty, name)
      assert(memo.schema == inferred(s"$sfDir/$name.parquet").schema, name)
    }
  }

  test("a streaming read in a stateScoped session reuses the batch schema") {
    GraftSession.tune(spark)
    Tables.events(spark, sfDir)
    assert(GateMetrics.measure(spark)(
      GraftSession.stateScoped(spark, 3)(Tables.eventsStream(_, sfDir))).isEmpty)
  }

  test("overwriting a table with a different schema returns the new schema") {
    GraftSession.tune(spark)
    val dir = GraftSession.scratch("tables-overwrite")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    Tables(spark, dir, "t")
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("k", "v"))
    Seq((1.5, 2, true)).toDF("x", "y", "z").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables(spark, dir, "t")
    assert(after.schema.fieldNames.toSeq == Seq("x", "y", "z"))
    assert(after.schema == inferred(s"$dir/t.parquet").schema)
    assert(after.as[(Double, Int, Boolean)].collect().toSeq == Seq((1.5, 2, true)))
  }

  test("toggling binaryAsString re-infers the binary column's type") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    GraftSession.tune(spark)
    val dir = GraftSession.scratch("tables-binary")
    // written without Spark's footer schema, which inference would prefer
    // over the physical types and so ignore binaryAsString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 k; optional binary payload; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/b.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("k", 1L).append("payload", Binary.fromString("hi")))
    finally w.close()
    def payloadType = Tables(spark, dir, "b").schema("payload").dataType
    assert(payloadType == BinaryType)
    assert(payloadType == BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      assert(payloadType == StringType)
      assert(Tables(spark, dir, "b").as[(Long, String)].collect().toSeq == Seq((1L, "hi")))
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert(payloadType == BinaryType)
  }

  test("an emptied table dir fails as a bare read does") {
    GraftSession.tune(spark)
    val dir = GraftSession.scratch("tables-emptied")
    val path = s"$dir/e.parquet"
    Seq(1, 2).toDF("n").write.parquet(path)
    Tables(spark, dir, "e")
    new java.io.File(path).listFiles().foreach(_.delete())
    val bare = intercept[AnalysisException](inferred(path))
    val memo = intercept[AnalysisException](Tables(spark, dir, "e"))
    assert(memo.getCondition == bare.getCondition)
    assert(memo.getMessage == bare.getMessage)
  }

  test("cat_databases_assemble scans exactly region and nation") {
    GraftSession.tune(spark)
    val df = SparkEntry.queries("cat_databases_assemble")(spark, sfDir)
    val scanned = df.queryExecution.analyzed
      .collect { case r: LogicalRelation => r.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.getName) }
      .flatten
    assert(scanned.toSet == Set("region.parquet", "nation.parquet"), scanned)
  }
}
