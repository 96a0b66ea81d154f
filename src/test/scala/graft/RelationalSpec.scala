package graft

import graft.queries.Relational

class RelationalSpec extends SparkSpecBase {

  test("q1 pricing summary: 6 flag/status groups, totals positive") {
    val rows = Relational.q1(spark, sfDir).collect()
    assert(rows.length >= 4)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total == 6000L) // sf0.001 lineitem row count
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_base_price") > 0)
      assert(r.getAs[Double]("avg_qty") > 0)
    }
  }

  test("q3 revenue by nation joins all dims") {
    val rows = Relational.q3RevenueByNation(spark, sfDir).collect()
    assert(rows.length == 25) // all nations present
    assert(rows.map(_.getAs[String]("n_name")).distinct.length == rows.length)
  }

  test("o3 yields exactly one row per user") {
    val df = Relational.o3LatestEventPerUser(spark, sfDir)
    val n = df.count()
    assert(n == df.select("user_id").distinct().count())
  }

  test("u1 union fold equals direct filter") {
    val rows = Relational.u1UnionFold(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == 1000L) // sf0.001 events rows (all types covered)
  }

  test("entry smoke returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has distinct column names and oracle coverage noted") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val cols = df.columns
      assert(cols.distinct.length == cols.length, s"$name has dup columns")
    }
  }
}
