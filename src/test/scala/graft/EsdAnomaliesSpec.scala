package graft

import graft.core.GraftSession

/** `StatsQueries.xEsdAnomalies` (generalized ESD over daily values) on
  * a planted pair of outliers and, for its round budget, on the test
  * data. */
class EsdAnomaliesSpec extends SparkSpecBase {
  import spark.implicits._

  private val baseTs = java.sql.Timestamp.valueOf("2024-06-01 09:00:00")
  private def ts(offsetDays: Int, i: Int) =
    new java.sql.Timestamp(baseTs.getTime + offsetDays * 86400000L + i)

  test("ESD unmasks a second outlier a single-pass z-score would hide") {
    val rows = (0 until 30).flatMap { day =>
      val v = if (day == 28) 1000.0 else if (day == 29) 900.0
              else 10.0 + (day % 3)
      Seq(((day * 10 + 1).toLong, ts(day, 1), 1L, "view", v, "{}"))
    }
    val dir = GraftSession.scratch("esd")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.StatsQueries.xEsdAnomalies(spark, dir)
      .orderBy("d").collect()
    assert(out.length == 30)
    assert(out(28).getAs[Int]("removed_round") == 1, out(28).toString)
    assert(out(29).getAs[Int]("removed_round") == 2, out(29).toString)
    assert(out.take(28).forall(_.getAs[Int]("removed_round") == 0))
    // real data must not mark more than the 3-round budget
    val real = graft.queries.StatsQueries.xEsdAnomalies(spark, sfDir)
      .collect()
    assert(real.count(_.getAs[Int]("removed_round") > 0) <= 3)
  }
}
