package graft

/** `StatsQueries.xPowerAnalysis` on the test data: the required sample
  * size is the closed form of the statistics the gate emits. */
class PowerAnalysisSpec extends SparkSpecBase {

  test("power analysis sizes the experiment from the emitted statistics") {
    val r = graft.queries.StatsQueries.xPowerAnalysis(spark, sfDir)
      .collect()(0)
    val sigma2 = r.getAs[Double]("sigma2_pooled")
    val mde = r.getAs[Double]("mde")
    val n = r.getAs[Long]("n_required_per_arm")
    // events value ~ U-ish with sd ~49 at every SF (driver synthetic);
    // the pooled variance must sit in that neighborhood
    assert(sigma2 > 1000 && sigma2 < 5000, s"sigma2 $sigma2")
    // closed form recomputed from the emitted (rounded) stats — ceil
    // boundary tolerance of 1
    val za = 1.959963985; val zb = 0.8416212336
    val expected = math.ceil(2.0 * sigma2 * math.pow(za + zb, 2)
      / (mde * mde)).toLong
    assert(math.abs(n - expected) <= 1, s"n $n vs $expected")
    assert(n > 0)
  }
}
