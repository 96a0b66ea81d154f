package graft

import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** The privacy release gates against plain-Scala recomputations: the
  * k-anonymous release equals the sequential generalization ladder,
  * the DP sum equals the clipped sum plus its pseudo-noise, and both
  * plans stay keyed. */
class PrivacyReleaseSpec extends SparkSpecBase {

  test("priv_k_release equals the sequential generalization ladder") {
    val K = 5
    val rows = graft.core.Tables.customer(spark, sfDir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("band0"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    def groupsAt(lv: Int): Map[(Int, String, Long), Long] =
      rows.groupBy { case (n, s, b0) =>
        (n, s, math.floor(b0.toDouble / math.pow(2.0, lv)).toLong)
      }.view.mapValues(_.size.toLong).toMap
    val ladder = (0 to 6).map { lv =>
      lv -> groupsAt(lv).values.filter(_ < K).sum
    }
    val bestLv = ladder.minBy { case (lv, sup) => (sup, lv) }._1
    val want = groupsAt(bestLv).filter(_._2 >= K)
      .map { case ((n, s, b), c) => (bestLv.toLong, n, s, b, c) }.toSet
    val got = graft.queries.PrivacyQueries.privKRelease(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want,
      s"missing=${want -- got} extra=${got -- want}")
    // the release is k-anonymous by construction
    assert(got.forall(_._5 >= K))
  }

  test("priv_dp_sum equals the clipped-sum + pseudo-noise recompute") {
    val perCust = graft.core.Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(
        _.map(p => math.round(p._2 * 100)).sum).toMap
    val nat = graft.core.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byNation = perCust.toSeq.flatMap { case (ck, cents) =>
      nat.get(ck).map(n => n -> math.min(cents, 10000000L))
    }.groupBy(_._1).view
      .mapValues(v => (v.map(_._2).sum, v.size)).toMap
    def u(salt: String, nk: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest((salt + nk).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 1.152921504606846976e18
    }
    def lap(salt: String, b: Double, nk: Int): Double = {
      val uu = u(salt, nk)
      -b * math.signum(uu - 0.5) * math.log(1.0 - 2.0 * math.abs(uu - 0.5))
    }
    val got = graft.queries.PrivacyQueries.privDpSum(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(got.nonEmpty)
    got.foreach { case (nk, noisySum, noisyMean) =>
      val (cents, n) = byNation(nk)
      val ws = cents / 100.0 + lap("dpsum:", 100000.0 / 0.5, nk)
      // denominator floored at 1 since r15 (small-group safety; at
      // TPC-H nation sizes the floor never actually engages here)
      val wm = ws / math.max(n + lap("dpn:", 1.0 / 0.5, nk), 1.0)
      assert(math.abs(noisySum - ws) < 1e-4, s"nation $nk sum")
      assert(math.abs(noisyMean - wm) < 1e-4, s"nation $nk mean")
    }
  }

  private def planOf(name: String): String = {
    GraftSession.tune(spark)
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString
  }

  test("priv_dp_sum / priv_k_release stay keyed (bounded NLJ only)") {
    // priv_k_release crosses the bounded QI table with the 7-row rung
    // table, and priv_dp_sum's final noise is scalar arithmetic — the
    // only nested-loop joins allowed are those bounded broadcasts
    for (g <- Seq("priv_dp_sum", "priv_k_release")) {
      val p = planOf(g)
      assert(!p.contains("CartesianProduct"), s"cartesian in $g:\n$p")
    }
    // the rung explosion must happen AFTER the fact aggregation, and
    // the bounded QI base is reaped so its two consumers (argmin +
    // release join) re-read the tiny SPILL, not the fact table: no
    // customer scan may remain in the final plan (the one fact pass
    // happened when the base was materialized). Fact scans are the
    // ones carrying the raw c_acctbal column; spill scans carry the
    // aggregated band0/n0 columns instead.
    val kr = planOf("priv_k_release")
    val factScans = "Scan parquet[^\\n]*c_acctbal".r.findAllIn(kr).size
    assert(factScans == 0,
      s"priv_k_release re-reads the fact table $factScans times:\n$kr")
  }
}
