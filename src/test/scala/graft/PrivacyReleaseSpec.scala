package graft

import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** The privacy release gates against plain-Scala recomputations: the
  * k-anonymous release equals the sequential generalization ladder,
  * the DP sum equals the clipped sum plus its pseudo-noise, the DP
  * mean's denominator floor engages on a planted tiny group, and both
  * plans stay keyed. */
class PrivacyReleaseSpec extends SparkSpecBase {
  import spark.implicits._

  /** Replicates Sketches.hash60 for a salt: the first 15 hex chars of
    * md5(salt + key) as a long, mapped into (0, 1). */
  private def u(salt: String, nk: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest((salt + nk).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 1.152921504606846976e18
  }
  /** The pseudo-noise Lap(b) draw the release adds for key `nk`. */
  private def lap(salt: String, b: Double, nk: Int): Double = {
    val uu = u(salt, nk)
    -b * math.signum(uu - 0.5) * math.log(1.0 - 2.0 * math.abs(uu - 0.5))
  }

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

  test("DP mean floors its noisy denominator at 1 for tiny groups") {
    // find a key whose Lap(1/eps=2) count-noise is < -1: with n = 2
    // the noisy count 2 + lap < 1 forces the floor
    val key = (0 until 200)
      .find(k => 2.0 + lap("dpn:", 2.0, k) < 1.0)
      .getOrElse(fail("no key with a deep-negative count draw in 0..200"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dpfloor-").toString
    Seq((1L, 500.0), (2L, 700.0)).toDF("o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, key), (2L, key)).toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val row = graft.queries.PrivacyQueries
      .privDpSum(spark, dir).collect()
    assert(row.length == 1)
    val (sum, mean) = (row(0).getDouble(1), row(0).getDouble(2))
    // floored denominator = 1 exactly => released mean == released sum
    assert(mean == sum,
      s"floor did not engage: noisy_mean $mean != noisy_sum $sum " +
        s"(key=$key, lap=${lap("dpn:", 2.0, key)})")
    assert(!mean.isNaN && !mean.isInfinite)
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
