package graft

import graft.sim.Pca

/** `Sampling.weightedSample` (A-ES weighted reservoir sampling)
  * against a brute-force global sort of the same keys. */
class SamplingSpec extends SparkSpecBase {
  import spark.implicits._

  test("weightedSample equals the brute-force sorted A-ES selection") {
    val df = (1L to 400L).map(i => (i, 1L + i % 17)).toDF("id", "w")
      .repartition(7)
    val got = graft.curate.Sampling.weightedSample(df, "id", "w", k = 50)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // brute force: same hash → uniform → key arithmetic, global sort
    val brute = (1L to 400L).map { i =>
      val h = Pca.hash60(s"aes:$i")
      val u = (h.toDouble + 1.0) / 1.152921504606846976e18
      val w = 1L + i % 17
      (Pca.r(-math.log(u) / w, 10), i, w)
    }.sortBy(t => (t._1, t._2)).take(50)
    assert(got.length == 50)
    got.zip(brute).zipWithIndex.foreach { case (((rank, id, w, key), (bk, bi, bw)), idx) =>
      assert(rank == idx + 1)
      assert(id == bi && w == bw && key == bk,
        s"rank ${idx + 1}: got ($id,$w,$key) want ($bi,$bw,$bk)")
    }
  }

  test("weightedSample excludes null and non-positive weights") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(0L)), (4L, Some(-3L)),
      (5L, Some(2L))).toDF("id", "w")
    val ids = graft.curate.Sampling.weightedSample(df, "id", "w", k = 10)
      .select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 5L))
  }

  test("weightedSample is a pure function of (id, salt)") {
    val df1 = (1L to 100L).map(i => (i, i)).toDF("id", "w").repartition(5)
    val df2 = (1L to 100L).reverse.map(i => (i, i)).toDF("id", "w")
    val a = graft.curate.Sampling.weightedSample(df1, "id", "w", 10)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    val b = graft.curate.Sampling.weightedSample(df2, "id", "w", 10)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(a == b) // input order / partitioning invisible
    val c = graft.curate.Sampling.weightedSample(df1, "id", "w", 10,
      salt = "other").orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(a != c) // a different salt is an independent redraw
  }
}
