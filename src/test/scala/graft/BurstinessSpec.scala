package graft

import graft.core.GraftSession

/** `TextQueries.textBurstiness` (observed vs expected document
  * frequency) on a planted one-document burst and an evenly spread
  * term. */
class BurstinessSpec extends SparkSpecBase {
  import spark.implicits._

  test("burstiness ranks a one-doc burst far above an evenly spread term") {
    // 'zzz': 50 occurrences inside ONE doc  => E[df]/df ~ 34
    // 'the': once in each of 60 docs        => E[df]/df ~ 0.63
    val docs = (1L to 60L).map { i =>
      if (i == 1) (i, ("the " + Seq.fill(50)("zzz").mkString(" ")))
      else (i, "the filler" + i)
    }
    val dir = GraftSession.scratch("burst")
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.TextQueries.textBurstiness(spark, dir)
      .collect()
    // only 'zzz' (tf 50) and 'the' (tf 60) clear the tf >= 20 floor
    assert(out.length == 2, out.mkString(";"))
    assert(out(0).getString(0) == "zzz")
    assert(out(0).getAs[Double]("burstiness") > 10.0)
    assert(out(1).getString(0) == "the")
    assert(out(1).getAs[Double]("burstiness") < 1.0)
  }
}
