package graft

import scala.util.Random
import graft.core.GraftSession

/** `StatsQueries.xQte` (quantile treatment effect) against its
  * order-statistic definition, recomputed in plain Scala on a seeded
  * random price multiset. */
class QteSpec extends SparkSpecBase {
  import spark.implicits._

  test("QTE quantile indices honor the ceil(q*n) order-statistic definition") {
    val rnd = new Random(909)
    // one priority, known multiset of prices: recompute each arm's
    // binned quantile independently from the hash-split definition
    val rows = (1L to 300L).map(k =>
      (k, "O", 1000.0 + rnd.nextInt(200) * 1000.0, "1-URGENT"))
    val dir = GraftSession.scratch("qter")
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    def arm(k: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(h, 16) % 2).toInt
    }
    val byArm = rows.groupBy(r => arm(r._1))
      .map { case (a, rs) =>
        a -> rs.map(r => math.ceil(r._3 / 1000.0).toLong * 1000L)
          .toVector.sorted
      }
    val out = graft.queries.StatsQueries.xQte(spark, dir)
      .orderBy("q").collect()
    for (r <- out) {
      val q = r.getAs[Double]("q")
      for ((a, col) <- Seq(0 -> "quantile_control", 1 -> "quantile_treated")) {
        val vs = byArm(a)
        val idx = math.ceil(vs.size * q).toInt
        val expected = vs(math.max(idx - 1, 0))
        assert(r.getAs[Long](col) == expected,
          s"q=$q arm=$a got ${r.getAs[Long](col)} expected $expected")
      }
    }
  }
}
