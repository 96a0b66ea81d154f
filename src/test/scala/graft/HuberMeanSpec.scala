package graft

import scala.util.Random
import graft.core.GraftSession

/** `StatsQueries.xHuberMean` on generated contaminated samples (seeded
  * `scala.util.Random`): the IRLS estimate is pulled toward the bulk. */
class HuberMeanSpec extends SparkSpecBase {
  import spark.implicits._

  test("Huber IRLS is a contraction toward the bulk on random contaminated samples") {
    val rnd = new Random(777)
    for (trial <- 1 to 3) {
      val n = 50 + rnd.nextInt(100)
      val bulk = (1 to n).map(i =>
        (i.toLong, 0, 500.0 + rnd.nextGaussian() * 50.0))
      val nOut = 1 + rnd.nextInt(3)
      val outliers = (1 to nOut).map(i =>
        ((n + i).toLong, 0, 50000.0 + rnd.nextInt(10000)))
      val dir = GraftSession.scratch(s"hubr$trial")
      (bulk ++ outliers).toDF("c_custkey", "c_nationkey", "c_acctbal")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      val r = graft.queries.StatsQueries.xHuberMean(spark, dir)
        .collect()(0)
      val plain = r.getAs[Double]("mean_plain")
      val huber = r.getAs[Double]("huber_mean")
      val bulkMean = bulk.map(_._3).sum / bulk.size
      // the robust estimate must sit closer to the uncontaminated bulk
      // mean than the plain mean does, for every contamination draw
      assert(math.abs(huber - bulkMean) < math.abs(plain - bulkMean),
        s"trial $trial: huber $huber plain $plain bulk $bulkMean")
      assert(r.getAs[Long]("n_downweighted") >= nOut.toLong - 0)
    }
  }
}
