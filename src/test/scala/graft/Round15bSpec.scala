package graft

import org.apache.spark.sql.functions._

/** Round-15 second-wave pins: first-principles checks for the eight
  * new operators (t-closeness, WoE/IV, Huber IRLS, Mondrian split
  * conformal, mSPRT, Page–Hinkley, Matryoshka rerank, Kneser–Ney),
  * each on a planted fixture whose expected behavior is derivable by
  * hand — not a replay of the implementation's own arithmetic. */
class Round15bSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("t-closeness flags skewed groups that k-anonymity and l-diversity pass") {
    // Two big groups, each with 3 distinct segments of ≥5 members
    // (so the k-audit's FINER QI — nation × segment × band — also
    // passes: smallest cell is 5), but each group dominated by a
    // DIFFERENT segment, so both sit far from the global mix:
    //   A: 60 X, 5 Y, 5 Z     B: 60 Y, 5 X, 5 Z
    //   global: 65 X, 65 Y, 10 Z over 140
    //   TVD(A) = ½(|60/70−65/140| + |5/70−65/140| + |5/70−10/140|)
    //          = ½(0.392857 + 0.392857 + 0) ≈ 0.3929 > 0.35
    val rows =
      (1 to 60).map(i => (i.toLong, 0, 100.0, "X")) ++
        (61 to 65).map(i => (i.toLong, 0, 100.0, "Y")) ++
        (66 to 70).map(i => (i.toLong, 0, 100.0, "Z")) ++
        (71 to 130).map(i => (i.toLong, 1, 100.0, "Y")) ++
        (131 to 135).map(i => (i.toLong, 1, 100.0, "X")) ++
        (136 to 140).map(i => (i.toLong, 1, 100.0, "Z"))
    val dir = tmpDir("graft-tclose-")
    rows.toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val t = graft.queries.PrivacyQueries.privTCloseness(spark, dir).collect()(0)
    assert(t.getAs[Long]("n_groups") == 2L)
    assert(math.abs(t.getAs[Double]("t_max") - 0.392857) < 1e-6, t.toString)
    assert(t.getAs[Long]("groups_above_t") == 2L, t.toString)
    assert(t.getAs[Long]("rows_at_risk") == 140L)
    // ... while the earlier rungs of the ladder see nothing wrong:
    val k = graft.queries.PrivacyQueries.privKAnonymity(spark, dir).collect()(0)
    assert(k.getAs[Long]("k_achieved") >= 5L, k.toString)
    assert(k.getAs[Long]("groups_below_k") == 0L)
    val l = graft.queries.PrivacyQueries.privLDiversity(spark, dir).collect()(0)
    assert(l.getAs[Long]("l_achieved") == 3L, l.toString)
    assert(l.getAs[Long]("groups_below_l") == 0L)
  }

  test("WoE is exactly zero (and IV zero) when bins are independent of the target") {
    // every bin has the same good:bad ratio — with the symmetric 0.5
    // correction the per-bin odds equal the global odds exactly
    val rows = for {
      (prio, i) <- Seq("1-URGENT", "2-HIGH", "3-MEDIUM").zipWithIndex
      j <- 1 to 4
    } yield ((i * 4 + j).toLong, if (j <= 2) "F" else "O", 100.0, prio)
    val dir = tmpDir("graft-woe-")
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = graft.queries.FeatQueries.featWoe(spark, dir).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getAs[Double]("woe") == 0.0, r.toString)
      assert(r.getAs[Double]("iv_term") == 0.0)
      assert(r.getAs[Double]("iv") == 0.0)
    }
  }

  test("WoE signs follow the class balance and IV is positive under dependence") {
    // bin G: 9 good / 1 bad (positive WoE); bin B: 1 good / 9 bad
    val rows =
      (1 to 9).map(i => (i.toLong, "O", 1.0, "G")) ++ Seq((10L, "F", 1.0, "G")) ++
        Seq((11L, "O", 1.0, "B")) ++ (12 to 20).map(i => (i.toLong, "F", 1.0, "B"))
    val dir = tmpDir("graft-woe2-")
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = graft.queries.FeatQueries.featWoe(spark, dir)
      .orderBy("bin").collect()
    val byBin = out.map(r => r.getString(0) -> r).toMap
    assert(byBin("G").getAs[Double]("woe") > 0.0)
    assert(byBin("B").getAs[Double]("woe") < 0.0)
    assert(out.head.getAs[Double]("iv") > 1.0) // strongly informative
  }

  test("Huber mean shrugs off a planted outlier that drags the plain mean") {
    // nation 0: 99 balances at 100.0 plus one at 1e6. Plain mean ≈
    // 10099; the Huber estimate must come back near the cluster: the
    // outlier's weight after one step is K/|1e6 − m| ≈ 1e-3.
    // nation 1: no outliers => huber == plain mean exactly (weights
    // all 1 in every IRLS step).
    val rows = (1 to 99).map(i => (i.toLong, 0, 100.0)) ++
      Seq((100L, 0, 1000000.0)) ++
      (101 to 130).map(i => (i.toLong, 1, 200.0 + (i % 7)))
    val dir = tmpDir("graft-huber-")
    rows.toDF("c_custkey", "c_nationkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = graft.queries.StatsQueries.xHuberMean(spark, dir)
      .orderBy("nat").collect()
    val n0 = out(0)
    assert(n0.getAs[Double]("mean_plain") > 10000.0)
    assert(n0.getAs[Double]("huber_mean") < 300.0, n0.toString)
    assert(n0.getAs[Long]("n_downweighted") == 1L)
    val n1 = out(1)
    assert(n1.getAs[Double]("huber_mean") == n1.getAs[Double]("mean_plain"),
      n1.toString)
    assert(n1.getAs[Long]("n_downweighted") == 0L)
  }

  test("conformal intervals cover on real data and collapse to zero width on constant residuals") {
    // constant y per priority => every residual is 0, the binned
    // quantile is bin 0, q_hat = 0, and coverage is exactly 1
    val rows = (1 to 400).map(i => (i.toLong, "O", 5000.0, "1-URGENT"))
    val dir = tmpDir("graft-conf-")
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val c = graft.queries.StatsQueries.xConformalInterval(spark, dir)
      .collect()(0)
    assert(c.getAs[Long]("q_hat") == 0L, c.toString)
    assert(c.getAs[Double]("coverage") == 1.0)
    // real data: the split-conformal guarantee is ≥ 0.9 MARGINALLY
    // (over calibration draws too) — with ~60 calibration rows per
    // priority at sf0.001 a single priority's realized coverage can
    // dip ~2.5σ (observed 0.76 once), so pin the per-priority floor
    // loosely and the cross-priority MEAN tighter. (At sf0.01 the
    // oracle-gated run reads 0.896–0.926 per priority.)
    val real = graft.queries.StatsQueries
      .xConformalInterval(spark, sfDir).collect()
    assert(real.length == 5)
    real.foreach { r =>
      assert(r.getAs[Double]("coverage") >= 0.7, r.toString)
      assert(r.getAs[Long]("n_test") > 0)
    }
    val mean = real.map(_.getAs[Double]("coverage")).sum / real.length
    assert(mean >= 0.85, s"mean coverage $mean")
  }

  test("mSPRT p-value stream is monotone nonincreasing and detects a planted effect") {
    // arms are md5-parity of user_id — pick users per arm by hashing,
    // then plant a 40-unit mean difference sustained over 12 days
    def arm(uid: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(h, 16) % 2).toInt
    }
    val base = java.sql.Timestamp.valueOf("2024-03-01 12:00:00")
    val rows = for {
      day <- 0 until 12
      uid <- 1L to 40L
      rep <- 1 to 5
    } yield (uid * 1000 + day * 10 + rep,
      new java.sql.Timestamp(base.getTime + day * 86400000L + rep),
      uid, "view",
      if (arm(uid) == 1) 50.0 + (rep % 3) else 10.0 + (rep % 3), "{}")
    val dir = tmpDir("graft-msprt-")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.StatsQueries.xMsprt(spark, dir)
      .orderBy("d").collect()
    assert(out.length == 12)
    val ps = out.map(_.getAs[Double]("p_always_valid"))
    assert(ps.sliding(2).forall(w => w(1) <= w(0) + 1e-12),
      s"p not monotone: ${ps.mkString(",")}")
    assert(ps.last < 0.05, s"planted effect not detected: p=${ps.last}")
    assert(out.last.getAs[Boolean]("significant"))
    // null data (the real sf0.001 arm split) must stay quiet AND monotone
    val real = graft.queries.StatsQueries.xMsprt(spark, sfDir)
      .orderBy("d").collect()
    val rp = real.map(_.getAs[Double]("p_always_valid"))
    assert(rp.sliding(2).forall(w => w(1) <= w(0) + 1e-12))
    assert(rp.last > 0.05, s"false positive on null data: p=${rp.last}")
  }

  test("Page–Hinkley alarms after a planted level shift and stays quiet before it") {
    val base = java.sql.Timestamp.valueOf("2024-05-01 08:00:00")
    val rows = for {
      day <- 0 until 30
      rep <- 1 to 3
    } yield ((day * 10 + rep).toLong,
      new java.sql.Timestamp(base.getTime + day * 86400000L + rep),
      1L, "view", if (day < 20) 10.0 else 50.0, "{}")
    val dir = tmpDir("graft-ph-")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.AnalyticsQueries.tsPageHinkley(spark, dir)
      .orderBy("d").collect()
    assert(out.length == 30)
    assert(out.take(20).forall(!_.getAs[Boolean]("alarm")),
      "false alarm before the shift")
    assert(out.drop(21).exists(_.getAs[Boolean]("alarm")),
      "shift never detected")
    // PH statistic is nonnegative by construction (m − running min m)
    assert(out.forall(_.getAs[Double]("ph") >= 0.0))
  }

  test("Matryoshka rerank: full-width prefix gives recall 1.0; recall is monotone in shortlist") {
    val full = graft.queries.SimQueries
      .matryoshkaRecall(spark, sfDir, prefixDims = 64)
      .orderBy("shortlist").collect()
    assert(full.length == 3)
    full.foreach(r =>
      assert(r.getAs[Double]("recall") == 1.0, r.toString))
    val pfx = graft.queries.SimQueries
      .matryoshkaRecall(spark, sfDir, prefixDims = 16)
      .orderBy("shortlist").collect()
    val recalls = pfx.map(_.getAs[Double]("recall"))
    assert(recalls.sliding(2).forall(w => w(1) >= w(0)),
      s"recall not monotone in shortlist: ${recalls.mkString(",")}")
    pfx.foreach(r => assert(r.getAs[Long]("n_queries") == 10L))
  }

  test("CMH test sees through Simpson's paradox that fools the pooled table") {
    // within each stratum exposure⊥outcome exactly (OR = 1), but the
    // exposure RATE flips across strata while the outcome base rate
    // flips with it — pooled, exposure looks strongly associated.
    def block(nation: Int, seg: String, pos: Int, neg: Int, base: Int) =
      (0 until pos).map(i => ((base + i).toLong, nation, 100.0, seg)) ++
        (0 until neg).map(i => ((base + pos + i).toLong, nation, -5.0, seg))
    val rows =
      block(0, "BUILDING", 64, 16, 0) ++ block(0, "MACHINERY", 16, 4, 100) ++
        block(1, "BUILDING", 4, 16, 200) ++ block(1, "MACHINERY", 16, 64, 300)
    val dir = tmpDir("graft-cmh-")
    rows.toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val r = graft.queries.StatsQueries.xCmhTest(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_strata") == 2L)
    assert(r.getAs[Double]("cmh_chi2") == 0.0, r.toString)
    assert(r.getAs[Double]("or_mh") == 1.0, r.toString)
    // the pooled (confounded) table would read 68/32 vs 32/68 —
    // verify the confounding is really in the fixture
    val pooled = rows.groupBy(t => (t._4 == "BUILDING", t._3 > 0))
      .map { case (k, v) => k -> v.size }
    assert(pooled((true, true)) == 68 && pooled((false, true)) == 32)
  }

  test("log-rank flags a planted hazard difference and is quiet on null data") {
    def arm(uid: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(h, 16) % 2).toInt
    }
    val users = (1L to 60L)
    val maxTs = java.sql.Timestamp.valueOf("2024-12-31 00:00:00")
    def ts(daysBack: Int) =
      new java.sql.Timestamp(maxTs.getTime - daysBack * 86400000L)
    // arm 1: 60-day span ending 200 days before max => event at
    // dur 60 (ev=1). arm 0: 80-day span ending AT max => censored
    // (ev=0) but still AT RISK at dur 60, so the hypergeometric
    // expectation splits the events across both arms and observed >
    // expected in arm 1.
    val rows = users.flatMap { u =>
      if (arm(u) == 1)
        Seq((u * 10, u, "O", 1.0, ts(260), "1-URGENT"),
          (u * 10 + 1, u, "O", 1.0, ts(200), "1-URGENT"))
      else
        Seq((u * 10, u, "O", 1.0, ts(80), "1-URGENT"),
          (u * 10 + 1, u, "O", 1.0, ts(0), "1-URGENT"))
    }
    val dir = tmpDir("graft-logrank-")
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = graft.queries.AnalyticsQueries.xLogrank(spark, dir).collect()(0)
    assert(r.getAs[Long]("events0") == 0L, r.toString)
    assert(r.getAs[Long]("events1") > 0L)
    // all observed events are in arm 1 while arm 0 shares the risk
    // sets => observed > expected => positive statistic
    assert(r.getAs[Double]("logrank_chi2") > 2.0, r.toString)
    // real sf0.001 data: arms are an exchangeable hash split — the
    // statistic must sit below the 1% critical value of χ²(1)
    val real = graft.queries.AnalyticsQueries.xLogrank(spark, sfDir)
      .collect()(0)
    assert(real.getAs[Double]("logrank_chi2") < 6.63, real.toString)
    assert(real.getAs[Double]("logrank_chi2") >= 0.0)
  }

  test("Kneser–Ney per-doc scores match an independent hand computation") {
    // independent reimplementation from the Chen–Goodman formula over
    // plain Scala maps — same tokenization, same D
    val docs = Seq((1L, "a b a b c"), (2L, "b c d"), (3L, "a b"))
    val dir = tmpDir("graft-kn-")
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val D = 0.75
    val bigrams = docs.flatMap { case (id, t) =>
      val w = t.split("\\s+").filter(_.nonEmpty)
      w.zip(w.tail).map(p => (id, p))
    }
    val cab = bigrams.groupBy(_._2).map { case (p, xs) => p -> xs.size }
    val ctxa = cab.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
    val n1f = cab.groupBy(_._1._1).map { case (a, m) => a -> m.size }
    val n1b = cab.groupBy(_._1._2).map { case (b, m) => b -> m.size }
    val bb = cab.size.toDouble
    def p(a: String, b: String): Double =
      (cab((a, b)) - D) / ctxa(a) +
        ((D * n1f(a)) / ctxa(a)) * (n1b(b) / bb)
    val expected = docs.map { case (id, t) =>
      val w = t.split("\\s+").filter(_.nonEmpty)
      val bs = w.zip(w.tail)
      id -> bs.map { case (a, b) => math.log(p(a, b)) }.sum / bs.size
    }.toMap
    val got = graft.text.Vocab
      .kneserNeyLogProb(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, v) =>
      assert(math.abs(v - expected(id)) < 1e-5,
        s"doc $id: got $v expected ${expected(id)}")
    }
    // and KN probabilities are a proper conditional distribution:
    // for every context a, sums to 1 over {seen b} + backoff mass
    ctxa.keys.foreach { a =>
      val seen = cab.collect { case ((x, b), _) if x == a => p(a, b) }.sum
      // .toSeq: mapping a key SET would collapse equal masses
      val unseenMass = n1b.keys.toSeq.filterNot(b => cab.contains((a, b)))
        .map(b => ((D * n1f(a)) / ctxa(a)) * (n1b(b) / bb)).sum
      assert(math.abs(seen + unseenMass - 1.0) < 1e-9,
        s"context $a mass ${seen + unseenMass}")
    }
  }
}
