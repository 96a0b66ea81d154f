package graft

import graft.core.GraftSession

/** `TextQueries.textRake` (RAKE keyphrase scores) on a two-document
  * corpus whose degree/frequency scores are computed by hand. */
class RakeSpec extends SparkSpecBase {
  import spark.implicits._

  test("RAKE scores a repeated two-word phrase above its member words") {
    // doc1: "deep learning of deep learning" -> phrase "deep learning"
    // twice; doc2: "learning the rate" -> "learning", "rate".
    // freq: deep 2, learning 3, rate 1
    // degree: deep 4, learning 5, rate 1
    // score("deep learning") = 4/2 + 5/3 = 3.6667 (top)
    val docs = Seq((1L, "deep learning of deep learning"),
      (2L, "learning the rate"))
    val dir = GraftSession.scratch("rake")
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.TextQueries.textRake(spark, dir).collect()
    assert(out.head.getString(0) == "deep learning", out.head.toString)
    assert(out.head.getAs[Long]("n_occurrences") == 2L)
    assert(math.abs(out.head.getAs[Double]("score") - 3.6667) < 1e-4)
    val byPhrase = out.map(r => r.getString(0) -> r.getAs[Double]("score"))
      .toMap
    assert(byPhrase("learning") < byPhrase("deep learning"))
    assert(byPhrase("rate") == 1.0)
  }
}
