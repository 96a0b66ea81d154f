package graft

import graft.core.GraftSession

/** `StatsQueries.xOverdispersion` (variance-to-mean ratio of daily
  * event counts) on planted constant and bursty series. */
class OverdispersionSpec extends SparkSpecBase {
  import spark.implicits._

  private val baseTs = java.sql.Timestamp.valueOf("2024-06-01 09:00:00")
  private def ts(offsetDays: Int, i: Int) =
    new java.sql.Timestamp(baseTs.getTime + offsetDays * 86400000L + i)

  test("overdispersion flags a bursty series and stays quiet on a constant one") {
    // 'steady': exactly 10 events/day for 20 days (VMR = 0);
    // 'bursty': 1/day for 19 days then 181 on day 20 (VMR >> 1.5)
    val steady = for (d <- 0 until 20; i <- 1 to 10)
      yield ((d * 100 + i).toLong, ts(d, i), 1L, "steady", 1.0, "{}")
    val bursty = (0 until 19).map(d =>
      ((10000 + d).toLong, ts(d, 50), 2L, "bursty", 1.0, "{}")) ++
      (1 to 181).map(i => ((20000 + i).toLong, ts(19, i), 2L, "bursty", 1.0, "{}"))
    val dir = GraftSession.scratch("vmr")
    (steady ++ bursty)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.StatsQueries.xOverdispersion(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("steady").getAs[Double]("vmr") == 0.0)
    assert(!out("steady").getAs[Boolean]("overdispersed"))
    assert(out("bursty").getAs[Double]("vmr") > 100.0,
      out("bursty").toString)
    assert(out("bursty").getAs[Boolean]("overdispersed"))
    assert(out("bursty").getAs[Long]("n_events") == 200L)
  }
}
