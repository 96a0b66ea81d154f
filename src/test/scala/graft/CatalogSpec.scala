package graft

import org.apache.spark.sql.functions._
import graft.catalog._

class CatalogSpec extends SparkSpecBase {

  private lazy val f = new CatalogFixtures.Bundle(spark, sfDir)

  test("every table entity carries an SD with idx-ordered columns") {
    val rows = f.tablesT.select(col("name"),
      col("storageDescriptor.columns").as("cols")).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val cols = r.getSeq[org.apache.spark.sql.Row](1)
      assert(cols.nonEmpty, s"${r.getString(0)} has no columns")
    }
  }

  test("s3n/s3a locations are normalized in entities") {
    val locs = f.tablesT.select(col("storageDescriptor.location")).collect()
    assert(locs.forall(_.getString(0).startsWith("s3://")))
  }

  test("null-safe fills: tables without params get empty maps not nulls") {
    val n = f.tablesT.where(col("parameters").isNull).count()
    assert(n == 0)
  }

  test("decompose inverts assemble for partition key vals") {
    val back = ReverseMigration.partitionKeyVals(f.partitionsT)
    val src = f.partKeyVals
    assert(back.count() == src.count())
    assert(back.exceptAll(src.select(col("PART_ID"), col("INTEGER_IDX"),
      col("PART_KEY_VAL"))).isEmpty)
  }

  test("partition names follow key(type)=vals format") {
    val names = f.partitionsT.select("partitionName").collect().map(_.getString(0))
    assert(names.forall(_.matches("""year\(int\),month\(int\)=\d{4},\d{1,2}""")))
  }

  test("the skew-aware SD fills each skewedInfo field on its own") {
    // SD 100 keeps its skewed names but loses its loc-map rows; SD 101
    // keeps its loc-map rows but loses its names
    val full = f
    val partial = new CatalogFixtures.Bundle(spark, sfDir) {
      override lazy val sds = full.sds.where(col("SD_ID").isin(100L, 101L))
      override lazy val skewed = full.skewed.where(col("SD_ID") === 100L)
      override lazy val skewedLocMap = full.skewedLocMap.where(col("SD_ID") === 101L)
    }
    val got = partial.sdsWithSkewT.select(col("SD_ID"),
        col("skewedInfo.skewedColumnNames"), col("skewedInfo.skewedColumnValues"),
        col("skewedInfo.skewedColumnValueLocationMaps"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(100L, 101L))
    assert(got(100L).getSeq[String](1) == Seq("sk_0"))
    assert(!got(100L).isNullAt(2) && got(100L).getSeq[String](2).isEmpty)
    assert(!got(100L).isNullAt(3) && got(100L).getMap[String, String](3).isEmpty)
    assert(!got(101L).isNullAt(1) && got(101L).getSeq[String](1).isEmpty)
    assert(got(101L).getSeq[String](2) == Seq("v1a", "v1b"))
    assert(got(101L).getMap[String, String](3) ==
      Map("2%['v1a', 'v1b']" -> "s3n://lake/skew/1"))
  }
}
