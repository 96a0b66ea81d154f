package graft

import scala.util.Random
import org.apache.spark.sql.Row
import graft.core.GraftSession

/** `StatsQueries.xQte` (quantile treatment effect) against its
  * order-statistic definition, recomputed in plain Scala on a seeded
  * random price multiset, on a constant outcome, and for sanity on the
  * test data. */
class QteSpec extends SparkSpecBase {
  import spark.implicits._

  /** The QTE rows, by q, of an orders table of (o_orderkey,
    * o_orderstatus, o_totalprice, o_orderpriority) rows. */
  private def qte(tag: String, rows: Seq[(Long, String, Double, String)]): Array[Row] = {
    val dir = GraftSession.scratch(tag)
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    graft.queries.StatsQueries.xQte(spark, dir).orderBy("q").collect()
  }

  test("QTE quantile indices honor the ceil(q*n) order-statistic definition") {
    val rnd = new Random(909)
    // one priority, known multiset of prices: recompute each arm's
    // binned quantile independently from the hash-split definition
    val rows = (1L to 300L).map(k =>
      (k, "O", 1000.0 + rnd.nextInt(200) * 1000.0, "1-URGENT"))
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
    val out = qte("qter", rows)
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

  test("QTE is zero at every quantile on a constant outcome, sane on real data") {
    val flat = qte("qte", (1L to 400L).map(k => (k, "O", 5000.0, "1-URGENT")))
    assert(flat.length == 5)
    flat.foreach { r =>
      assert(r.getAs[Long]("qte") == 0L, r.toString)
      assert(r.getAs[Long]("quantile_control") == 5000L)
    }
    // real data: quantiles are nondecreasing in q within each arm and
    // the hash arms are exchangeable, so |qte| stays a small fraction
    // of the quantile itself
    val real = graft.queries.StatsQueries.xQte(spark, sfDir)
      .orderBy("q").collect()
    val qc = real.map(_.getAs[Long]("quantile_control"))
    val qt = real.map(_.getAs[Long]("quantile_treated"))
    assert(qc.sliding(2).forall(w => w(1) >= w(0)))
    assert(qt.sliding(2).forall(w => w(1) >= w(0)))
    real.foreach { r =>
      assert(math.abs(r.getAs[Long]("qte")) <
        r.getAs[Long]("quantile_control") / 2, r.toString)
    }
  }
}
